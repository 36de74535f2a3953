package graft.spark

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import org.apache.spark.graftsupport.{Jobs, Plans}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import graft.operators.{Decontaminate, Dedup, SpanDedup}
import graft.plans.SketchCheckpoint
import graft.sources.TokenDocGen

/** Incremental corpus dedup: deduping a new snapshot against the
  * persisted index must equal a fresh batch run over the union —
  * including the chain case where the corpus neighbor was itself
  * near-dup-dropped (it stays in the index as an exact-tier survivor).
  */
class DedupIncrementalSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  private def words(r: Range, pfx: String = "w"): Seq[String] =
    r.map(i => s"$pfx$i")
  private def doc(id: Long, ws: Seq[String]): (Long, String, String) =
    (id, ws.mkString(" "), "src" + (id % 3))
  private def df(rows: Seq[(Long, String, String)]): DataFrame =
    rows.toDF("doc_id", "text", "source")

  // snapshot 1 (corpus), ids 0-9
  private val base = words(1 to 40)
  private val c2Text = words(1 to 38) ++ words(1 to 2, "x") // J(c1,c2)=38/42
  private val s1 = Seq(
    doc(0L, words(100 to 140, "u")),        // unique
    doc(1L, words(200 to 230, "v")),        // unique
    doc(2L, base),                          // c1: kept near-dup anchor
    doc(3L, words(100 to 140, "u")),        // exact dup of 0 -> dropped
    doc(4L, words(300 to 350, "z")),        // unique
    doc(5L, c2Text),                        // c2: near-dup of c1 -> dropped
    doc(6L, words(400 to 420, "q")),        // unique
    doc(7L, base),                          // exact dup of 2 -> dropped
    doc(8L, words(500 to 560, "p")),        // unique
    doc(9L, words(600 to 610, "m")))        // unique

  // snapshot 2 (new), ids 10-19 — all ids > every s1 id (precondition)
  private val s2 = Seq(
    doc(10L, words(100 to 140, "u")),       // exact dup of corpus 0
    // chain: near-dup of the DROPPED c2 (J=38/42~0.905) but NOT of c1
    // (J=36/44~0.818): batch drops it because c2 is an exact-tier
    // survivor -> the index must keep dropped-near-dup docs
    doc(11L, words(1 to 36) ++ words(1 to 2, "x") ++ words(1 to 2, "y")),
    doc(12L, words(700 to 750, "n")),       // unique new
    doc(13L, base),                         // exact dup of corpus 2
    doc(14L, words(1 to 38) ++ words(5 to 6, "k")), // near-dup of c1 -> drop
    doc(15L, words(800 to 860, "t")),       // unique new
    doc(16L, words(700 to 750, "n")),       // exact dup within new (of 12)
    doc(17L, words(800 to 858, "t") ++ words(1 to 2, "j")), // near-dup of 15
    doc(18L, words(900 to 905, "s")),       // unique new
    doc(19L, words(900 to 905, "s")))       // exact dup within new (of 18)

  // snapshot 3, ids 20-24 — for the append-compose case
  private val s3 = Seq(
    doc(20L, words(700 to 750, "n")),       // exact dup of SNAPSHOT-2 doc 12
    doc(21L, words(1000 to 1040, "g")),     // unique
    // near-dup of snapshot-2 doc 15 (indexed by the append)
    doc(22L, words(800 to 858, "t") ++ words(3 to 4, "j")),
    doc(23L, words(600 to 610, "m")),       // exact dup of corpus 9
    doc(24L, words(1100 to 1120, "h")))     // unique

  private def keptIds(d: DataFrame): Seq[Long] =
    d.select("doc_id").as[Long].collect().sorted.toSeq

  test("incremental == batch over the union (exact, near-dup, chain)") {
    val dir = Files.createTempDirectory("graft-dedup-idx").toString
    Dedup.writeDedupIndex(df(s1), dir)
    val batchS1 = keptIds(Dedup.dedupDocs(df(s1)))
    val incS2 = keptIds(Dedup.dedupIncremental(df(s2), dir))
    val batchUnion = keptIds(Dedup.dedupDocs(df(s1 ++ s2)))
    assert((batchS1 ++ incS2).sorted == batchUnion,
      s"s1=$batchS1 inc=$incS2 union=$batchUnion")
    // the planted cases, explicitly
    assert(!incS2.contains(10L), "exact dup of corpus content")
    assert(!incS2.contains(11L), "chain: near-dup of a DROPPED corpus doc")
    assert(!incS2.contains(13L), "exact dup of corpus content")
    assert(!incS2.contains(14L), "near-dup of kept corpus doc")
    assert(!incS2.contains(16L), "exact dup within the new snapshot")
    assert(!incS2.contains(17L), "near-dup within the new snapshot")
    assert(incS2.contains(12L) && incS2.contains(15L) &&
      incS2.contains(18L), "unique new docs kept")
  }

  test("manifest guards: non-monotone ids and band mismatches rejected") {
    val dir = Files.createTempDirectory("graft-dedup-idx3").toString
    Dedup.writeDedupIndex(df(s1), dir, numBands = 32, rowsPerBand = 4)
    val (nb, rpb, ng, nDocs, maxId) =
      Dedup.readIndexManifest(spark, dir)
    assert((nb, rpb, ng) == (32, 4, 1))
    assert(maxId == 9L)
    assert(nDocs == 8L, "2 exact dups dropped from 10 docs")
    // new snapshot overlapping the indexed id range -> refuse (batch
    // equality no longer holds)
    val overlapping = df(Seq(doc(5L, words(1 to 5, "zz"))))
    val e = intercept[IllegalArgumentException] {
      Dedup.dedupIncremental(overlapping, dir).collect()
    }
    assert(e.getMessage.contains("monotone"))
    // appending with different band params -> refuse (the stored band
    // keys would be incomparable)
    val e2 = intercept[IllegalArgumentException] {
      Dedup.writeDedupIndex(df(s2), dir, numBands = 16, rowsPerBand = 8,
        append = true)
    }
    assert(e2.getMessage.contains("numBands"))
  }

  test("an index without the current format_version stamp is refused loudly") {
    val dir = Files.createTempDirectory("graft-dedup-idx-old").toString
    Dedup.writeDedupIndex(df(s1), dir)
    // rewrite the manifest as an index written before the stamp existed
    // (its toksets were unsorted, so reading it would undercount Jaccard)
    def restamp(stamp: Option[Int]): Unit = {
      val m = spark.read.parquet(s"$dir/manifest").drop("format_version")
      val old = spark.createDataFrame(
        java.util.Arrays.asList(m.collect(): _*), m.schema)
      stamp.fold(old)(v => old.withColumn("format_version", lit(v)))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/manifest")
    }
    for (stamp <- Seq(None, Some(1))) {
      restamp(stamp)
      val refusals = Seq(
        () => Dedup.dedupIncremental(df(s2), dir).collect(),
        () => Dedup.writeDedupIndex(df(s2), dir, append = true),
        () => Dedup.compactDedupIndexTables(spark, dir, "graft_old_idx", 4))
      refusals.foreach { call =>
        val e = intercept[IllegalStateException](call())
        assert(e.getMessage.contains("writeDedupIndex"), e.getMessage)
      }
    }
  }

  test("embedding incremental dedup == batch drop policy over the union") {
    // deterministic unit vectors in 8-d: near-dups = same base + tiny
    // noise (cosine ~0.999); distinct bases are near-orthogonal
    def vec(base: Int, salt: Int): Array[Float] = {
      val v = Array.tabulate(8)(d =>
        (if (d == base % 8) 10f else 0f) +
          0.05f * graft.core.Hashing.toUnitDouble(
            graft.core.Hashing.at(base * 1000 + salt, d)).toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    val corpus = Seq(
      (0L, vec(0, 0)), (1L, vec(1, 0)), (2L, vec(2, 0)),
      (3L, vec(0, 7)), // near-dup of 0 -> batch-dropped, stays indexed
      (4L, vec(3, 0))).toDF("vec_id", "embedding")
    val snap = Seq(
      (10L, vec(1, 3)),  // near-dup of corpus 1 -> drop
      (11L, vec(4, 0)),  // new base -> keep
      (12L, vec(0, 9)),  // near-dup of the DROPPED corpus 3 -> still drop
      (13L, vec(4, 5)),  // near-dup of NEW 11 -> drop (within-new)
      (14L, vec(5, 0))).toDF("vec_id", "embedding")
    val dir = Files.createTempDirectory("graft-emb-idx").toString
    Dedup.writeEmbDedupIndex(corpus, dir)
    val incKept = Dedup.embDedupIncremental(snap, dir, 0.9)
      .select("vec_id").as[Long].collect().sorted.toSeq
    val union = corpus.union(snap)
    val batchKept = union
      .join(Dedup.embDedupDropIds(union, 0.9), Seq("vec_id"), "left_anti")
      .select("vec_id").as[Long].collect().sorted.toSeq
    val corpusKept = corpus
      .join(Dedup.embDedupDropIds(corpus, 0.9), Seq("vec_id"), "left_anti")
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert((corpusKept ++ incKept).sorted == batchKept,
      s"corpus=$corpusKept inc=$incKept batch=$batchKept")
    assert(incKept == Seq(11L, 14L), s"kept: $incKept")
    // an unusual column order comes back unchanged
    val reordered = Dedup.embDedupIncremental(
      snap.select("embedding", "vec_id"), dir, 0.9)
    assert(reordered.columns.toSeq == Seq("embedding", "vec_id"),
      reordered.columns.toSeq)
    assert(reordered.select("vec_id").as[Long].collect().sorted.toSeq == incKept)
    // monotone-id guard
    val bad = Seq((2L, vec(6, 0))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Dedup.embDedupIncremental(bad, dir, 0.9).collect()
    }
    assert(e.getMessage.contains("indexed"))
    // append composes, including the chain case: x ~ y ~ z with
    // cos(x,y)=cos(y,z)=0.93 >= 0.9 but cos(x,z)=0.73 < 0.9 (a rotation
    // chain). y is dropped by x; z is later dropped ONLY because the
    // appended index holds the DROPPED y — a kept-only index would
    // wrongly keep z.
    def rot(theta: Double): Array[Float] = {
      val v = new Array[Float](8)
      v(0) = math.cos(theta).toFloat; v(1) = math.sin(theta).toFloat
      v
    }
    val theta = math.acos(0.93)
    val dir2 = Files.createTempDirectory("graft-emb-idx2").toString
    Dedup.writeEmbDedupIndex(
      Seq((0L, rot(0))).toDF("vec_id", "embedding"), dir2)
    val inc2 = Dedup.embDedupIncremental(
      Seq((10L, rot(theta))).toDF("vec_id", "embedding"),
      dir2, 0.9, appendToIndex = true)
      .select("vec_id").as[Long].collect().toSeq
    assert(inc2.isEmpty, s"y must be dropped by x: $inc2")
    val inc3 = Dedup.embDedupIncremental(
      Seq((20L, rot(2 * theta)), (21L, vec(6, 0)))
        .toDF("vec_id", "embedding"), dir2, 0.9)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(inc3 == Seq(21L),
      s"z must be dropped via the DROPPED-but-indexed y: $inc3")
  }

  test("randomized: incremental CC == batch CC across random corpora/splits") {
    // random near-dup structure: bases of 41 distinct words; variants
    // perturb k in {0 (exact dup), 1 (J=40/42), 2 (J=39/43)} words, so
    // components form random chains/stars across a random corpus/
    // snapshot boundary — the fixture classes above are hand-picked
    // instances of this space
    val rnd = new scala.util.Random(20260817L)
    for (trial <- 1 to 3) {
      val texts = scala.collection.mutable.ArrayBuffer[String]()
      for (b <- 0 until 10) {
        val base = Array.tabulate(41)(w => s"t${trial}b${b}w$w")
        texts += base.mkString(" ")
        var cur = base
        val nVar = 1 + rnd.nextInt(3)
        for (v <- 0 until nVar) {
          val k = rnd.nextInt(3)
          val next = cur.clone()
          var replaced = 0
          while (replaced < k) {
            val idx = rnd.nextInt(next.length)
            next(idx) = s"t${trial}b${b}v${v}r$replaced"
            replaced += 1
          }
          texts += next.mkString(" ")
          cur = next
        }
      }
      val docs = df(texts.zipWithIndex.map { case (t, i) =>
        (i.toLong, t, "s" + (i % 3)) }.toSeq)
      val n = texts.length
      val mid = (n / 3 + rnd.nextInt(n / 2)).toLong
      val snap1 = docs.filter(col("doc_id") <= mid)
      val snap2 = docs.filter(col("doc_id") > mid)
      val dir = Files.createTempDirectory(s"graft-cc-rand$trial").toString
      Dedup.writeDedupIndexCC(snap1, dir, threshold = 0.9)
      val incKept = keptIds(
        Dedup.dedupIncrementalCC(snap2, dir, appendToIndex = true))
      val batchKept = keptIds(Dedup.dedupDocsCC(docs))
      assert(incKept == batchKept.filter(_ > mid),
        s"trial $trial mid=$mid inc=$incKept batch=$batchKept")
      val labels = spark.read.parquet(s"$dir/labels")
      val keptFromIndex = keptIds(
        spark.read.parquet(s"$dir/digests").select("doc_id").join(
          labels.filter(col("cluster_id") =!= col("doc_id"))
            .select("doc_id"), Seq("doc_id"), "left_anti"))
      assert(keptFromIndex == batchKept,
        s"trial $trial mid=$mid index=$keptFromIndex batch=$batchKept")
    }
  }

  test("embedding incremental CC == batch CC (bridge merges corpus clusters)") {
    def vec(base: Int, salt: Int): Array[Float] = {
      val v = Array.tabulate(8)(d =>
        (if (d == base % 8) 10f else 0f) +
          0.05f * graft.core.Hashing.toUnitDouble(
            graft.core.Hashing.at(base * 1000 + salt, d)).toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    def rot(theta: Double): Array[Float] = {
      val v = new Array[Float](8)
      v(0) = math.cos(theta).toFloat; v(1) = math.sin(theta).toFloat
      v
    }
    val theta = math.acos(0.93)
    // corpus: two 2-vector components {0,1} and {2,3} at cos(2θ)=0.73
    // apart (< 0.9), plus a singleton
    val corpus = Seq(
      (0L, rot(0)), (1L, rot(0.02)),
      (2L, rot(2 * theta)), (3L, rot(2 * theta + 0.02)),
      (4L, vec(5, 0))).toDF("vec_id", "embedding")
    // snapshot: vid 10 BRIDGES both corpus components (cos 0.93 to
    // each side); 11 is fresh; 12 is a within-new near-dup of 11
    val snap = Seq(
      (10L, rot(theta)), (11L, vec(7, 0)), (12L, vec(7, 3)))
      .toDF("vec_id", "embedding")
    val dir = Files.createTempDirectory("graft-emb-cc-idx").toString
    Dedup.writeEmbDedupIndexCC(corpus, dir, threshold = 0.9)
    // an unusual column order comes back unchanged
    val reordered = Dedup.embDedupIncrementalCC(
      snap.select("embedding", "vec_id"), dir).columns.toSeq
    assert(reordered == Seq("embedding", "vec_id"), reordered)
    val incKept = Dedup.embDedupIncrementalCC(snap, dir,
        appendToIndex = true)
      .select("vec_id").as[Long].collect().sorted.toSeq
    val union = corpus.union(snap)
    val batchKept = union
      .join(Dedup.embDedupDropIdsCC(union, 0.9), Seq("vec_id"), "left_anti")
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(incKept == batchKept.filter(_ >= 10L),
      s"inc=$incKept batch=$batchKept")
    // union kept from the UPDATED index state == fresh batch CC —
    // including the RETRO-DROP of vid 2, kept by the corpus-only run
    // but merged under label 0 by the bridge
    val labels = spark.read.parquet(s"$dir/labels")
    val keptFromIndex = spark.read.parquet(s"$dir/vectors")
      .select(col("vid").as("vec_id"))
      .join(labels.filter(col("cluster_id") =!= col("doc_id"))
        .select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_anti")
      .as[Long].collect().sorted.toSeq
    assert(keptFromIndex == batchKept,
      s"index=$keptFromIndex batch=$batchKept")
    val corpusOnlyKept = corpus
      .join(Dedup.embDedupDropIdsCC(corpus, 0.9), Seq("vec_id"), "left_anti")
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(corpusOnlyKept.contains(2L) && !keptFromIndex.contains(2L),
      s"corpusOnly=$corpusOnlyKept index=$keptFromIndex")
  }

  test("appendToIndex composes: snapshot3 against index(s1)+append(s2)") {
    val dir = Files.createTempDirectory("graft-dedup-idx2").toString
    Dedup.writeDedupIndex(df(s1), dir)
    val incS2 = keptIds(
      Dedup.dedupIncremental(df(s2), dir, appendToIndex = true))
    val incS3 = keptIds(Dedup.dedupIncremental(df(s3), dir))
    val batchAll = keptIds(Dedup.dedupDocs(df(s1 ++ s2 ++ s3)))
    val batchS1 = keptIds(Dedup.dedupDocs(df(s1)))
    assert((batchS1 ++ incS2 ++ incS3).sorted == batchAll,
      s"s1=$batchS1 incS2=$incS2 incS3=$incS3 all=$batchAll")
    assert(!incS3.contains(20L), "exact dup of an appended snapshot-2 doc")
    assert(!incS3.contains(22L), "near-dup of an appended snapshot-2 doc")
    assert(!incS3.contains(23L), "exact dup of original corpus content")
    assert(incS3.contains(21L) && incS3.contains(24L))
  }

  // ---- connected-component policy fixtures ----
  //
  // corpus: two labeled 2-doc components {a1,a2} and {b1,b2}
  // (J(a1,b1)=90/110=0.818 < 0.9 — separate), a chain anchor, and a
  // unique doc; snapshot: a BRIDGE doc near both a1 and b1
  // (J=95/105=0.905 each) that merges the two corpus components —
  // batch CC then keeps only a1 and RETROACTIVELY drops b1 — plus a
  // boundary-spanning chain chA(corpus)~chB(new)~chC(new) with
  // J(chA,chC)=0.818 < 0.9, and a unique new doc.
  private val wbase = words(1 to 90)
  private val ccCorpus = Seq(
    doc(0L, wbase ++ words(1 to 10, "y")),                    // a1
    doc(1L, words(1 to 89) ++ words(1 to 10, "y") ++ Seq("va")), // a2 ~ a1
    doc(2L, wbase ++ words(1 to 10, "z")),                    // b1
    doc(3L, words(1 to 89) ++ words(1 to 10, "z") ++ Seq("vb")), // b2 ~ b1
    doc(4L, words(200 to 299, "c")),                          // chA
    doc(5L, words(400 to 450, "u")))                          // unique
  private val ccSnap = Seq(
    doc(10L, wbase ++ words(1 to 5, "y") ++ words(1 to 5, "z")), // bridge
    doc(11L, words(200 to 294, "c") ++ words(1 to 5, "x")),   // chB ~ chA
    doc(12L, words(200 to 289, "c") ++ words(1 to 10, "x")),  // chC ~ chB only
    doc(13L, words(500 to 520, "n")))                         // unique new

  test("incremental CC == batch CC over union (chain, bridge, retro-drop)") {
    val dir = Files.createTempDirectory("graft-dedup-cc-idx").toString
    Dedup.writeDedupIndexCC(df(ccCorpus), dir, threshold = 0.9)
    val incKept = keptIds(
      Dedup.dedupIncrementalCC(df(ccSnap), dir, appendToIndex = true))
    val batchUnion = keptIds(Dedup.dedupDocsCC(df(ccCorpus ++ ccSnap)))
    // snapshot side: the function's result == batch restricted to new ids
    assert(incKept == batchUnion.filter(_ >= 10L),
      s"inc=$incKept batchUnion=$batchUnion")
    // the whole chain collapses onto its corpus anchor
    assert(!incKept.contains(11L) && !incKept.contains(12L))
    assert(!incKept.contains(10L), "bridge doc joins the merged component")
    assert(incKept.contains(13L))
    // union side from the UPDATED index state alone: digests minus
    // non-representative cluster members == fresh batch CC over union
    val digests = spark.read.parquet(s"$dir/digests").select("doc_id")
    val labels = spark.read.parquet(s"$dir/labels")
    val keptFromIndex = keptIds(digests.join(
      labels.filter(col("cluster_id") =!= col("doc_id")).select("doc_id"),
      Seq("doc_id"), "left_anti"))
    assert(keptFromIndex == batchUnion,
      s"index=$keptFromIndex batchUnion=$batchUnion")
    // the retro-drop: b1 was kept by the corpus-only run but loses its
    // representative status once the bridge merges {a..} and {b..}
    val corpusOnly = keptIds(Dedup.dedupDocsCC(df(ccCorpus)))
    assert(corpusOnly.contains(2L) && !keptFromIndex.contains(2L),
      s"corpusOnly=$corpusOnly index=$keptFromIndex")
    // labels now point the whole merged component at a1
    val merged = labels.filter(col("doc_id").isin(1L, 2L, 3L, 10L))
      .select("cluster_id").as[Long].collect().toSet
    assert(merged == Set(0L), s"merged labels=$merged")
  }

  test("table-layout CC == directory CC; compaction folds appends in") {
    try {
      // fresh table CC index answers exactly like the directory CC index
      Dedup.writeDedupIndexTablesCC(df(ccCorpus), "graft_tcc", 8,
        threshold = 0.9)
      val dir = Files.createTempDirectory("graft-tcc-dir").toString
      Dedup.writeDedupIndexCC(df(ccCorpus), dir, threshold = 0.9)
      val tKept = keptIds(Dedup.dedupIncrementalTablesCC(df(ccSnap),
        "graft_tcc"))
      val dKept = keptIds(Dedup.dedupIncrementalCC(df(ccSnap), dir))
      assert(tKept == dKept, s"tables=$tKept dir=$dKept")
      // the delta-fold: append a snapshot to the DIRECTORY index (the
      // write side), compact into tables (the read side), and the
      // table path must answer like the appended directory — including
      // the bridge-merged, remapped labels
      Dedup.dedupIncrementalCC(df(ccSnap), dir, appendToIndex = true)
      Dedup.compactDedupIndexTables(spark, dir, "graft_tcc2", 8)
      val s3cc = Seq(
        doc(20L, words(200 to 289, "c") ++ words(3 to 12, "x")), // ~ chC
        doc(21L, words(600 to 640, "g")))                        // unique
      val inc3dir = keptIds(Dedup.dedupIncrementalCC(df(s3cc), dir))
      val inc3tab = keptIds(Dedup.dedupIncrementalTablesCC(df(s3cc),
        "graft_tcc2"))
      assert(inc3tab == inc3dir, s"tables=$inc3tab dir=$inc3dir")
      assert(!inc3tab.contains(20L) && inc3tab.contains(21L))
      // a labels-less table index refuses the CC policy loudly
      Dedup.writeDedupIndexTables(df(ccCorpus), "graft_tplain", 8)
      val e = intercept[IllegalArgumentException] {
        Dedup.dedupIncrementalTablesCC(df(ccSnap), "graft_tplain")
      }
      assert(e.getMessage.contains("cluster labels"), e.getMessage)
    } finally {
      for (p <- Seq("graft_tcc", "graft_tcc2", "graft_tplain");
           t <- Seq("digests", "bands", "toksets", "manifest",
             "labels", "labels_meta"))
        spark.sql(s"DROP TABLE IF EXISTS ${p}_$t")
    }
  }

  test("a fresh index write drops an earlier build's cluster labels") {
    // a CC build of one corpus, then a plain build of another at the same
    // place: the CC policy must not contract the new corpus's pairs
    // against the old corpus's clusters
    def refusesCC(call: => Any): Unit = {
      val e = intercept[IllegalArgumentException](call)
      assert(e.getMessage.contains("carries no cluster labels"), e.getMessage)
    }
    val dir = Files.createTempDirectory("graft-dedup-relabel").toString
    Dedup.writeDedupIndexCC(df(ccCorpus), dir, threshold = 0.9)
    Dedup.writeDedupIndex(df(s1), dir)
    assert(!Dedup.hasClusterLabels(spark, dir))
    refusesCC(Dedup.dedupIncrementalCC(df(s2), dir).collect())
    assert(keptIds(Dedup.dedupIncremental(df(s2), dir, appendToIndex = true)) ==
      Seq(12L, 15L, 18L))
    // the embedding index shares the labels tables
    val embDir = Files.createTempDirectory("graft-emb-relabel").toString
    val embs = Seq((0L, Array(1f, 0f, 0f, 0f)), (1L, Array(0.99f, 0.1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    Dedup.writeEmbDedupIndexCC(embs, embDir, threshold = 0.9, numBands = 8)
    Dedup.writeEmbDedupIndex(embs, embDir, numBands = 8)
    assert(!Dedup.hasClusterLabels(spark, embDir))
    refusesCC(Dedup.embDedupIncrementalCC(
      Seq((5L, Array(0f, 0f, 1f, 0f))).toDF("vec_id", "embedding"), embDir))
    try {
      // the same on one table prefix, written fresh or compacted into
      for (p <- Seq("graft_relabel", "graft_relabel2"))
        Dedup.writeDedupIndexTablesCC(df(ccCorpus), p, 4, threshold = 0.9)
      Dedup.writeDedupIndexTables(df(s1), "graft_relabel", 4)
      Dedup.compactDedupIndexTables(spark, dir, "graft_relabel2", 4)
      for (p <- Seq("graft_relabel", "graft_relabel2")) {
        assert(!Dedup.hasClusterLabelsTables(spark, p), p)
        refusesCC(Dedup.dedupIncrementalTablesCC(df(s2), p))
      }
      assert(keptIds(Dedup.dedupIncrementalTables(df(s2), "graft_relabel")) ==
        Seq(12L, 15L, 18L))
    } finally {
      for (p <- Seq("graft_relabel", "graft_relabel2");
           t <- Seq("digests", "bands", "toksets", "manifest",
             "labels", "labels_meta"))
        spark.sql(s"DROP TABLE IF EXISTS ${p}_$t")
    }
  }

  test("incremental CC composes across appends; labels-less index rejected") {
    val dir = Files.createTempDirectory("graft-dedup-cc-idx2").toString
    Dedup.writeDedupIndexCC(df(ccCorpus), dir, threshold = 0.9)
    Dedup.dedupIncrementalCC(df(ccSnap), dir, appendToIndex = true)
    // snapshot 3: a near-dup of the (dropped) chain doc chC — batch CC
    // merges it into the chA component; the index path must agree via
    // the appended bands + remapped labels
    val s3cc = Seq(
      doc(20L, words(200 to 289, "c") ++ words(3 to 12, "x")), // ~ chC
      doc(21L, words(600 to 640, "g")))                        // unique
    val inc3 = keptIds(Dedup.dedupIncrementalCC(df(s3cc), dir))
    val batchAll = keptIds(Dedup.dedupDocsCC(df(ccCorpus ++ ccSnap ++ s3cc)))
    assert(inc3 == batchAll.filter(_ >= 20L), s"inc3=$inc3 all=$batchAll")
    assert(!inc3.contains(20L) && inc3.contains(21L))
    // an index written without labels cannot serve the CC policy
    val plainDir = Files.createTempDirectory("graft-dedup-plain-idx").toString
    Dedup.writeDedupIndex(df(ccCorpus), plainDir)
    intercept[Exception] {
      Dedup.dedupIncrementalCC(df(ccSnap), plainDir).collect()
    }
    // ...and a PAIRWISE append on a CC-labeled index must fail loudly:
    // it would leave the labels missing the snapshot, silently staling
    // every later CC call
    val e = intercept[IllegalArgumentException] {
      Dedup.dedupIncremental(df(s3cc), dir, appendToIndex = true)
    }
    assert(e.getMessage.contains("cluster labels"), e.getMessage)
  }

  test("opening an index or a checkpoint starts no schema-inference job") {
    val dir = Files.createTempDirectory("graft-dedup-idx-open").toString
    Dedup.writeDedupIndex(df(s1), dir)
    val evalDir = Files.createTempDirectory("graft-eval-idx-open").toString
    Decontaminate.writeEvalIndex(df(s1.take(3)), evalDir, n = 3)
    val ckpt = Files.createTempDirectory("graft-ckpt-open").toString
    val (cap, fpr) = (10000L, 0.01)
    SketchCheckpoint.writePanelPartials(
      TokenDocGen.generateDf(spark, 400, 7L, 4), "source", cap, fpr, ckpt, "s1")
    val embDir = Files.createTempDirectory("graft-emb-idx-open").toString
    Dedup.writeEmbDedupIndex(Seq((0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f, 0f))).toDF("vec_id", "embedding"), embDir, numBands = 8)
    val embSnap = Seq((5L, Array(0f, 0f, 1f, 0f))).toDF("vec_id", "embedding")
    val (_, jobs) = Jobs.recorded(spark.sparkContext) {
      Dedup.dedupIncremental(df(s2), dir).collect()
      Dedup.embDedupIncremental(embSnap, embDir, 0.9).collect()
      Decontaminate.contaminatedVsIndex(df(s2), evalDir).collect()
      SketchCheckpoint.resumePanel(spark, ckpt, cap, fpr).collect()
    }
    assert(jobs.nonEmpty)
    // a parquet read that infers its schema runs a footer-reading job
    // named after the read's call site
    val inferred = jobs.flatten.filter(_.startsWith("parquet at"))
    assert(inferred.isEmpty, inferred)
  }

  test("an embedding index without the format_version stamp is refused loudly") {
    val embs = Seq((0L, Array(1f, 0f, 0f, 0f)), (1L, Array(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val snap = Seq((5L, Array(0f, 0f, 1f, 0f))).toDF("vec_id", "embedding")
    val dir = Files.createTempDirectory("graft-emb-idx-old").toString
    Dedup.writeEmbDedupIndex(embs, dir, numBands = 8)
    // rewrite the manifest as an index written before the stamp existed,
    // then as a version-1 index (its vectors may be array<double>)
    for (stamp <- Seq(None, Some(1))) {
      val m = spark.read.parquet(s"$dir/manifest").drop("format_version")
      val old = spark.createDataFrame(
        java.util.Arrays.asList(m.collect(): _*), m.schema)
      stamp.fold(old)(v => old.withColumn("format_version", lit(v)))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/manifest")
      val refusals = Seq(
        () => Dedup.embDedupIncremental(snap, dir, 0.9).collect(),
        () => Dedup.embNearDupHitsVsIndex(snap, dir, 0.9).collect(),
        () => Dedup.writeEmbDedupIndex(snap, dir, numBands = 8, append = true))
      refusals.foreach { call =>
        val e = intercept[IllegalStateException](call())
        assert(e.getMessage.contains("writeEmbDedupIndex"), e.getMessage)
      }
    }
  }

  test("an embedding snapshot is checked in one pass: any wrong-dim or null vector is refused") {
    // both readers of an embedding index, incremental dedup and the hits
    // screen, and its writer, fresh and appending
    val embs = Seq((0L, Array(1f, 0f, 0f, 0f)), (1L, Array(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val dir = Files.createTempDirectory("graft-emb-idx-dim").toString
    Dedup.writeEmbDedupIndex(embs, dir, numBands = 8)
    def snap(vs: Array[Float]*) = vs.zipWithIndex
      .map { case (v, i) => (10L + i, v) }.toDF("vec_id", "embedding")
    val ok = Array(0f, 0f, 1f, 0f)
    val fresh = Files.createTempDirectory("graft-emb-idx-dim-w").toString
    // the wrong vector comes after a right one: a check of the first row
    // alone accepts it, and the kernels would compare common prefixes
    for ((bad, why) <- Seq(
        snap(ok, Array(0f, 0f, 1f)) -> "dim 3..4 != index dim 4",
        snap(ok, Array(0f, 0f, 1f, 0f, 1f)) -> "dim 4..5 != index dim 4",
        snap(ok, null) -> "1 null embedding")) {
      for (call <- Seq(() => Dedup.embDedupIncremental(bad, dir, 0.9).collect(),
          () => Dedup.embNearDupHitsVsIndex(bad, dir, 0.9).collect(),
          () => Dedup.writeEmbDedupIndex(bad, fresh, numBands = 8, dim = 4),
          () => Dedup.writeEmbDedupIndex(bad, dir, numBands = 8, append = true))) {
        val e = intercept[IllegalArgumentException](call())
        assert(e.getMessage.contains(why), e.getMessage)
      }
    }
    // without a dim, a fresh write takes the one length all vectors have
    val e = intercept[IllegalArgumentException](
      Dedup.writeEmbDedupIndex(snap(ok, Array(0f, 0f, 1f)), fresh, numBands = 8))
    assert(e.getMessage.contains("dim 3..4"), e.getMessage)
    assert(spark.read.parquet(s"$dir/vectors").count() == 2)
    // before any pair work: one manifest read, one pass over the snapshot
    val (_, actions) = Plans.recorded(spark)(
      Dedup.embDedupIncremental(snap(ok, ok), dir, 0.9))
    assert(actions.map(_._1) == Seq("collect", "head"), actions.map(_._1))
    assert(Dedup.embDedupIncremental(snap(), dir, 0.9).isEmpty)
  }

  test("an incremental append reads the manifest once") {
    def manifestReads(body: => Unit): Int = {
      val (_, actions) = Plans.recorded(spark)(body)
      actions.count { case (name, plan) =>
        name == "collect" && Plans.nodes(plan).exists {
          case s: FileSourceScanExec =>
            s.relation.location.rootPaths.exists(_.getName == "manifest")
          case _ => false
        }
      }
    }
    val dir = Files.createTempDirectory("graft-dedup-idx-append1").toString
    Dedup.writeDedupIndex(df(s1), dir)
    assert(manifestReads(
      Dedup.dedupIncremental(df(s2), dir, appendToIndex = true)) == 1)
    val embDir = Files.createTempDirectory("graft-emb-idx-append1").toString
    Dedup.writeEmbDedupIndex(Seq((0L, Array(1f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding"), embDir, numBands = 8)
    val embSnap = Seq((5L, Array(0f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
    assert(manifestReads(
      Dedup.embDedupIncremental(embSnap, embDir, 0.9, appendToIndex = true)) == 1)
    // the appended state is read back under the signature it was read
    // with: s1 holds 8 exact-tier survivors, s2 adds 6 (up to id 18), and
    // the appended vector hits itself (once per shared band)
    assert(Dedup.readIndexManifest(spark, dir) == ((32, 4, 1, 14L, 18L)))
    assert(Dedup.embNearDupHitsVsIndex(embSnap, embDir, 0.9)
      .select("corpus_id").distinct().as[Long].collect().toSeq == Seq(5L))
  }

  /** Every file under `dir`, by relative path, with its bytes. */
  private def contents(dir: String): Map[String, Seq[Byte]] = {
    val root = java.nio.file.Paths.get(dir)
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => root.relativize(f).toString -> Files.readAllBytes(f).toSeq)
      .toMap
  }

  test("docs without tokens never pair, against the corpus or each other") {
    // punctuation-only and null texts have empty token sets: their
    // union is empty, Jaccard is 0/0, and they must not pair
    val dir = Files.createTempDirectory("graft-dedup-idx-empty").toString
    Dedup.writeDedupIndex(df(s1 :+ ((10L, "!!!", "src1"))), dir)
    val snap = Seq[(Long, String, String)]((20L, "???", "src2"),
      (21L, null, "src0"), (22L, null, "src1"), (23L, "...", "src2"))
      .toDF("doc_id", "text", "source")
    assert(keptIds(Dedup.dedupIncremental(snap, dir)) == Seq(20L, 21L, 22L, 23L))
    assert(Dedup.nearDupHitsVsIndex(snap, dir).count() == 0)
  }

  test("one-pass exact tier: fixed answers, column order, empty snapshot") {
    val dir = Files.createTempDirectory("graft-dedup-idx-pass").toString
    Dedup.writeDedupIndex(df(s1), dir)
    val rows = Seq[(Long, String, String)](
      doc(31L, words(2000 to 2030, "e")),   // within-snapshot dup of 30
      doc(30L, words(2000 to 2030, "e")),   // kept: min id of its group
      doc(32L, words(100 to 140, "u")),     // copy of corpus doc 0
      doc(33L, words(100 to 140, "u")),     // the same corpus copy again
      (34L, null, "src1"), (35L, null, "src2"), // null texts: both kept
      doc(36L, words(2100 to 2140, "f")))   // unique
    // an unusual column order must come back unchanged
    val snap = df(rows).select("text", "source", "doc_id")
    val kept = Dedup.dedupIncremental(snap, dir)
    assert(kept.columns.toSeq == Seq("text", "source", "doc_id"))
    val expected = Seq(30L, 34L, 35L, 36L)
    assert(keptIds(kept) == expected)
    // the same answer as a batch run over the union
    assert(keptIds(Dedup.dedupDocs(df(s1 ++ rows))).filter(_ >= 30L) ==
      expected)
    // an empty snapshot is handed back as it is, on both policies
    val empty = df(Seq.empty)
    assert(Dedup.dedupIncremental(empty, dir) eq empty)
    assert(Dedup.dedupIncremental(empty, dir, appendToIndex = true) eq empty)
    val ccDir = Files.createTempDirectory("graft-dedup-cc-pass").toString
    Dedup.writeDedupIndexCC(df(ccCorpus), ccDir, threshold = 0.9)
    assert(Dedup.dedupIncrementalCC(empty, ccDir) eq empty)
  }

  test("an overlapping snapshot is refused before the index is touched") {
    val dir = Files.createTempDirectory("graft-dedup-idx-refuse").toString
    Dedup.writeDedupIndex(df(s1), dir)
    val before = contents(dir)
    // new content under an indexed id, and a snapshot that is nothing
    // but a corpus copy (its exact tier keeps no row at all)
    val overlapping = Seq(
      Seq(doc(9L, words(3000 to 3010, "r")), doc(40L, words(3100 to 3110, "r"))),
      Seq(doc(5L, words(100 to 140, "u"))))
    for (rows <- overlapping) {
      val e = intercept[IllegalArgumentException] {
        Dedup.dedupIncremental(df(rows), dir, appendToIndex = true)
      }
      assert(e.getMessage.contains("monotone"), e.getMessage)
      assert(contents(dir) == before, "the refused append changed the index")
    }
  }

  test("the exact tier scans a persisted snapshot once") {
    val dir = Files.createTempDirectory("graft-dedup-idx-scan").toString
    Dedup.writeDedupIndex(df(s1), dir)
    val snap = df(s2).persist()
    try {
      snap.count()
      val (kept, plans) = Plans.recorded(spark) {
        Dedup.dedupIncremental(snap, dir)
      }
      // one pass computes the digests, the corpus anti-join, the
      // within-snapshot min ids and the observed min id together
      val scans = plans.map { case (action, plan) =>
        action -> Plans.nodes(plan).count(_.isInstanceOf[InMemoryTableScanExec])
      }.filter(_._2 > 0)
      assert(scans.map(_._2).sum == 1, scans)
      assert(keptIds(kept) == Seq(12L, 15L, 18L))
    } finally snap.unpersist()
  }

  test("one-row index reads run one job; an empty one is refused") {
    val dir = Files.createTempDirectory("graft-dedup-meta").toString
    Dedup.writeDedupIndexCC(df(ccCorpus), dir, threshold = 0.9)
    val spanDir = Files.createTempDirectory("graft-span-meta").toString
    SpanDedup.writeSpanIndex(df(s1), spanDir, minLen = 8)
    try {
      Dedup.writeDedupIndexTablesCC(df(ccCorpus), "graft_meta", 4,
        threshold = 0.9)
      SpanDedup.writeSpanIndexTables(df(s1), "graft_spmeta", 4, minLen = 8)
      val reads = Seq[(String, () => Any, Any)](
        ("labels threshold", () => Dedup.readLabelsThreshold(spark, dir), 0.9),
        ("table labels threshold",
          () => Dedup.readLabelsThresholdTables(spark, "graft_meta"), 0.9),
        ("span min len", () => SpanDedup.readSpanIndexMinLen(spark, spanDir), 8),
        ("table span min len",
          () => SpanDedup.readSpanIndexMinLenTables(spark, "graft_spmeta"), 8))
      for ((what, read, expected) <- reads) {
        val (v, jobs) = Jobs.recorded(spark.sparkContext)(read())
        assert(v == expected, what)
        assert(jobs.size == 1, s"$what: $jobs")
      }
    } finally {
      Seq("digests", "bands", "toksets", "manifest", "labels", "labels_meta")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS graft_meta_$t"))
      Seq("grams", "manifest")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS graft_spmeta_$t"))
    }
    // a table written without a row is a broken write: refused by name
    Seq.empty[Double].toDF("threshold")
      .write.mode("overwrite").parquet(s"$dir/labels_meta")
    val e = intercept[IllegalStateException](Dedup.readLabelsThreshold(spark, dir))
    assert(e.getMessage.contains("labels_meta"), e.getMessage)
    Seq.empty[(Int, Long)].toDF("min_len", "n_grams")
      .write.mode("overwrite").parquet(s"$spanDir/manifest")
    val e2 = intercept[IllegalStateException](
      SpanDedup.readSpanIndexMinLen(spark, spanDir))
    assert(e2.getMessage.contains("manifest"), e2.getMessage)
  }
}
