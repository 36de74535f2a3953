package graft.sketchbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{BloomIO, CountMinSketch, Hashing, HyperLogLog, KllSketch}
import graft.functions.{functions => F}
import graft.operators.{Decontaminate, Dedup}
import graft.plans.SketchCheckpoint
import graft.sources.{TokenDocGen, TokenDocs}

/** What a workload runs on: the session, the seed its inputs come from, a
  * scratch directory for persisted state, and the span recorder.
  */
final class Ctx(val spark: SparkSession, val cores: Int, val seed: Long,
                val workDir: String, val tracer: Tracer) {
  def sc: org.apache.spark.SparkContext = spark.sparkContext
  def dir(name: String): String = s"$workDir/$name"
  /** MB held by cached and pinned RDDs, in memory and on disk. */
  def storageMb: Double =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
  def deleteDir(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
  }
}

/** One closed-loop workload: set-up, one op, and the op's correctness
  * gate against exact answers computed once in set-up.
  */
abstract class Workload(val ctx: Ctx) {
  type Out
  protected def spark: SparkSession = ctx.spark
  protected def span[A](name: String)(body: => A): A = ctx.tracer.span(name)(body)

  /** Generate inputs, cache them and write persisted state (timed). */
  def setup(rep: Int): Unit
  /** Exact answers for the gates, from the set-up's inputs (untimed). */
  def computeExact(): Unit
  /** Drop what `setup` cached or wrote. */
  def teardown(): Unit
  /** The op: the calls a client makes, each inside a span. */
  def op(i: Int): Out
  /** Work items the op finished. */
  def items(o: Out): Long
  /** Failed checks of the op's outputs; empty when correct. */
  def gate(o: Out): Seq[String]
  /** Estimate quality seen by the gates so far (est_rel_err, ...). */
  def quality: Map[String, Double]
  /** MB on disk of the persisted state the ops read. */
  def storedMb: Option[Double]
  /** Per-layer metrics read off the ops' outputs. */
  def layerValues(outs: Seq[Out]): Map[String, Double] = Map.empty
  /** Tokens and values one op folds into sketches (for kernel_share). */
  def foldedPerOp: (Long, Long) = (0L, 0L)
  /** Inputs of the core replay: tokens, absent keys, KLL values. */
  def replayInputs(): (Array[Int], Array[Int], Array[Double])
  /** Extra traced measurements outside the ops. */
  def probes(): Map[String, Double] = Map.empty

  protected def relErr(est: Double, exact: Double): Double =
    math.abs(est - exact) / math.max(1.0, exact)
}

object Workload {
  val Vocab: Int = TokenDocGen.Vocab
  val BloomCapacity = 50000L
  val BloomFpr = 0.001
  val HllP = 14
  val CmsDepth = 3
  val CmsWidth = 16384
  val KllK = 200
  /** HLL gate: three standard errors at p=14. */
  val HllBound: Double = 3 * 1.04 / math.sqrt((1 << HllP).toDouble)

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "build" => new BuildWorkload(ctx)
    case "query" => new QueryWorkload(ctx)
    case "curate" => new CurateWorkload(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (build, query, curate)")
  }

  def dirMb(path: String): Double = {
    val f = new java.io.File(path)
    def size(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(size).sum).getOrElse(0L)
      else if (f.getName.endsWith(".crc")) 0L
      else f.length
    size(f) / 1e6
  }

  /** Median of n_tok-like values as KLL reports it: the item at rank 0.5. */
  def exactMedian(sorted: Array[Int]): Double =
    sorted(math.max(0, math.ceil(0.5 * sorted.length).toInt - 1)).toDouble

  /** Replay values: `vs` repeated to at least `n` entries. */
  def repeatTo(vs: Array[Double], n: Int): Array[Double] =
    Array.fill(math.max(1, (n + vs.length - 1) / math.max(1, vs.length)))(vs).flatten
}

/** `build`: the write path. Each op folds every token of a cached
  * Zipf table into the per-source Bloom + HLL + CMS panel plus a KLL of
  * document lengths. The item is a token folded.
  */
final class BuildWorkload(ctx: Ctx) extends Workload(ctx) {
  import Workload._
  val Docs = 30000L
  type Out = Array[Row]

  private var docs: DataFrame = _
  private var tokensPerOp = 0L
  private var exactDistinct: Map[String, Long] = Map.empty
  private var exactMed: Map[String, Double] = Map.empty
  private var present: Map[String, Array[Int]] = Map.empty
  private var worstErr = 0.0

  def setup(rep: Int): Unit = span("sources.generate") {
    docs = TokenDocGen.generateDf(spark, Docs, ctx.seed, ctx.cores).persist()
    tokensPerOp = docs.agg(sum(col("n_tok"))).head().getLong(0)
  }

  def computeExact(): Unit = {
    val distinct = docs.select(col("source"), explode(col("tokens")).as("t"))
      .distinct().collect()
    present = distinct.groupBy(_.getString(0))
      .map { case (s, rs) => s -> rs.map(_.getInt(1)) }
    exactDistinct = present.map { case (s, ts) => s -> ts.length.toLong }
    exactMed = docs.groupBy(col("source"))
      .agg(sort_array(collect_list(col("n_tok"))).as("l")).collect()
      .map(r => r.getString(0) -> exactMedian(r.getSeq[Int](1).toArray)).toMap
  }

  def teardown(): Unit = if (docs != null) docs.unpersist(blocking = true)

  def op(i: Int): Out = span("functions.panel_agg") {
    docs.groupBy(col("source")).agg(
      F.bloom_agg_tokens(col("tokens"), BloomCapacity, BloomFpr).as("bloom"),
      F.hll_agg_tokens(col("tokens"), HllP).as("hll"),
      F.cms_agg_tokens(col("tokens"), CmsDepth, CmsWidth).as("cms"),
      F.kll_agg(col("n_tok"), KllK).as("kll")).collect()
  }

  def items(o: Out): Long = tokensPerOp

  def gate(o: Out): Seq[String] = {
    val bySource = o.map(r => r.getAs[String]("source") -> r).toMap
    val missing = exactDistinct.keySet -- bySource.keySet
    missing.toSeq.map(s => s"source $s has no sketch") ++
      exactDistinct.toSeq.filter(e => bySource.contains(e._1)).flatMap {
        case (s, exact) =>
          val r = bySource(s)
          val hllErr = relErr(
            HyperLogLog.deserialize(r.getAs[Array[Byte]]("hll")).estimate, exact)
          val kllErr = relErr(KllSketch.deserialize(r.getAs[Array[Byte]]("kll"))
            .quantile(0.5), exactMed(s))
          worstErr = math.max(worstErr, math.max(hllErr, kllErr))
          val bloom = BloomIO.load(r.getAs[Array[Byte]]("bloom"))
          val falseNeg = present(s).count(t => !bloom.has(Hashing.tokenHash(t)))
          (if (hllErr > HllBound)
             Seq(f"$s: HLL relative error $hllErr%.4f above $HllBound%.4f")
           else Nil) ++
          (if (falseNeg > 0) Seq(s"$s: $falseNeg Bloom false negatives") else Nil)
      }
  }

  def quality: Map[String, Double] = Map("est_rel_err" -> worstErr)
  def storedMb: Option[Double] = None
  override def foldedPerOp: (Long, Long) = (tokensPerOp, Docs)

  def replayInputs(): (Array[Int], Array[Int], Array[Double]) = {
    val rows = docs.select(col("tokens"), col("n_tok")).take(2000)
    val toks = rows.flatMap(_.getSeq[Int](0))
    (toks, Array.tabulate(toks.length)(Vocab + _),
      repeatTo(rows.map(_.getInt(1).toDouble), 200000))
  }

  /** A job that only scans the same cache: the aggregate's cost is the
    * difference from `functions.panel_agg_ms`.
    */
  override def probes(): Map[String, Double] = {
    def scan(): Unit = docs.agg(sum(size(col("tokens")))).head()
    scan()
    Map("functions.scan_only_ms" -> Stats.median((1 to 5).map { _ =>
      val t0 = System.nanoTime(); scan(); (System.nanoTime() - t0) / 1e6
    }))
  }
}

/** `query`: the read path. Set-up writes a panel checkpoint of many
  * (source, partition) partials; each op resumes it (unions every partial
  * and estimates), loads the merged web-crawl Bloom and probes a fixed
  * key batch, half present tokens and half known-absent keys. The item is
  * a probed key.
  */
final class QueryWorkload(ctx: Ctx) extends Workload(ctx) {
  import Workload._
  val Docs = 16000L
  val Partitions = 16
  val Probed = "web-crawl"
  final case class Out(rows: Array[Row], probe: Map[(Boolean, Boolean), Long])

  private var docs: DataFrame = _
  private var keys: DataFrame = _
  private var ckptDir: String = _
  private var nPresent = 0L
  private var expectedPartials = 0L
  private var fresh: Map[String, Seq[Array[Byte]]] = Map.empty
  private var exactDistinct: Map[String, Long] = Map.empty
  private var exactTop: Map[String, Seq[(Int, Long)]] = Map.empty
  private var worstErr = 0.0
  private var worstFpr = 0.0

  def setup(rep: Int): Unit = {
    ckptDir = ctx.dir(s"checkpoint-$rep")
    docs = span("sources.generate") {
      val d = TokenDocGen.generateDf(spark, Docs, ctx.seed, Partitions).persist()
      d.count()
      d
    }
    span("plans.checkpoint_write") {
      SketchCheckpoint.writePanelPartials(docs, "source", BloomCapacity,
        BloomFpr, ckptDir, "s1", HllP, CmsDepth, CmsWidth)
    }
    keys = span("sources.generate") {
      val presentKeys = docs.filter(col("source") === Probed)
        .select(explode(col("tokens")).as("key"), lit(true).as("present"))
      nPresent = presentKeys.count()
      val absentKeys = spark.range(0, nPresent, 1, ctx.cores)
        .select((col("id") + Vocab).cast("int").as("key"), lit(false).as("present"))
      val k = presentKeys.union(absentKeys).coalesce(ctx.cores).persist()
      k.count()
      k
    }
  }

  def computeExact(): Unit = {
    expectedPartials = spark.read.parquet(ckptDir).count()
    fresh = docs.groupBy(col("source")).agg(F.sketch_panel_agg(col("tokens"),
        BloomCapacity, BloomFpr, HllP, CmsDepth, CmsWidth).as("p"))
      .select(col("source"), col("p.bloom"), col("p.hll"), col("p.cms"))
      .collect().map(r => r.getString(0) ->
        Seq(r.getAs[Array[Byte]](1), r.getAs[Array[Byte]](2), r.getAs[Array[Byte]](3)))
      .toMap
    val counts = docs.select(col("source"), explode(col("tokens")).as("t"))
      .groupBy(col("source"), col("t")).count().collect()
      .groupBy(_.getString(0))
    exactDistinct = counts.map { case (s, rs) => s -> rs.length.toLong }
    exactTop = counts.map { case (s, rs) =>
      s -> rs.map(r => (r.getInt(1), r.getLong(2))).sortBy(-_._2).take(10).toSeq }
  }

  def teardown(): Unit = {
    if (keys != null) keys.unpersist(blocking = true)
    if (docs != null) docs.unpersist(blocking = true)
    if (ckptDir != null) ctx.deleteDir(ckptDir)
  }

  def op(i: Int): Out = {
    val rows = span("plans.resume_panel") {
      SketchCheckpoint.resumePanel(spark, ckptDir, BloomCapacity, BloomFpr,
          HllP, CmsDepth, CmsWidth)
        .select(col("group_key"), col("bloom"), col("hll"), col("cms"),
          col("n_partials"), F.hll_estimate(col("hll")).as("hll_est"))
        .collect()
    }
    val filter = span("core.sketch_load") {
      BloomIO.load(rows.find(_.getString(0) == Probed).get.getAs[Array[Byte]]("bloom"))
    }
    val probe = span("functions.bloom_probe") {
      keys.select(col("present"),
          F.bloomProbe(filter)(F.token_hash64(col("key"))).as("hit"))
        .groupBy(col("present"), col("hit")).count().collect()
        .map(r => (r.getBoolean(0), r.getBoolean(1)) -> r.getLong(2)).toMap
    }
    Out(rows, probe)
  }

  def items(o: Out): Long = 2 * nPresent

  def gate(o: Out): Seq[String] = {
    val fails = Seq.newBuilder[String]
    val bySource = o.rows.map(r => r.getString(0) -> r).toMap
    for ((s, want) <- fresh) bySource.get(s) match {
      case None => fails += s"source $s missing from the resumed panel"
      case Some(r) =>
        for ((name, w) <- Seq("bloom", "hll", "cms").zip(want))
          if (!java.util.Arrays.equals(r.getAs[Array[Byte]](name), w))
            fails += s"$s: resumed $name differs from a fresh build"
        worstErr = math.max(worstErr,
          relErr(r.getAs[Double]("hll_est"), exactDistinct(s)))
        val cms = CountMinSketch.deserialize(r.getAs[Array[Byte]]("cms"))
        for ((t, c) <- exactTop(s))
          worstErr = math.max(worstErr, relErr(cms.estimate(Hashing.tokenHash(t)), c))
    }
    val partials = o.rows.map(_.getAs[Long]("n_partials")).sum
    if (partials != expectedPartials)
      fails += s"resumed $partials partials, checkpoint holds $expectedPartials"
    val missed = o.probe.getOrElse((true, false), 0L)
    if (missed > 0) fails += s"$missed present keys missed the Bloom filter"
    val ratio = o.probe.getOrElse((false, true), 0L).toDouble / nPresent / BloomFpr
    worstFpr = math.max(worstFpr, ratio)
    if (ratio > 1.0) fails += f"false-positive rate $ratio%.3f x the configured $BloomFpr"
    fails.result()
  }

  def quality: Map[String, Double] =
    Map("est_rel_err" -> worstErr, "fpr_over_target" -> worstFpr)
  def storedMb: Option[Double] = Some(dirMb(ckptDir))

  /** The checkpoint bytes a resume scans are the snapshot's data files:
    * Spark's task input metric misses Parquet's reads here.
    */
  override def layerValues(outs: Seq[Out]): Map[String, Double] = Map(
    "plans.partials_read" ->
      Stats.median(outs.map(_.rows.map(_.getAs[Long]("n_partials")).sum.toDouble)),
    "plans.checkpoint_read_mb" -> dirMb(ckptDir))

  def replayInputs(): (Array[Int], Array[Int], Array[Double]) = {
    val rows = docs.filter(col("source") === Probed)
      .select(col("tokens"), col("n_tok")).take(2000)
    val toks = rows.flatMap(_.getSeq[Int](0))
    (toks, Array.tabulate(toks.length)(Vocab + _),
      repeatTo(rows.map(_.getInt(1).toDouble), 200000))
  }
}

/** `curate`: the operator path. Set-up writes a dedup index of a corpus
  * and an eval-set index; each op screens one fresh snapshot, first
  * against the dedup index, then for eval contamination among the
  * survivors. Snapshots carry planted exact copies of corpus docs and
  * planted copies of eval docs. The item is a snapshot doc screened.
  */
final class CurateWorkload(ctx: Ctx) extends Workload(ctx) {
  import Workload._
  val CorpusDocs = 6000
  /** Eval docs are the passages of at least EvalMinTokens tokens among
    * this many generated docs. The gate expects every planted eval copy
    * to survive dedup; a long passage is never a near-duplicate of a
    * corpus doc by chance, which a 20-token Zipf doc can be.
    */
  val EvalDrawn = 1000
  val EvalMinTokens = 200
  val Snapshots = 2
  val FreshPerSnap = 540
  val CopiesPerSnap = 30
  val EvalPerSnap = 30
  /** 13-grams: shared only by copied text, never by chance in Zipf docs. */
  val Ngram = 13
  val SnapIdStride = 100000L
  final case class Out(snap: Int, kept: Array[Long], flagged: Array[Long],
                       pinnedMb: Double)
  private final case class Snap(frame: DataFrame, size: Int,
                                copies: Set[Long], evals: Set[Long])

  private var corpus: DataFrame = _
  private var eval: DataFrame = _
  private var snaps: IndexedSeq[Snap] = IndexedSeq.empty
  private var dedupDir: String = _
  private var evalDir: String = _
  private var contaminated: IndexedSeq[Set[Long]] = IndexedSeq.empty

  private def toText(df: DataFrame): DataFrame = df.select(
    regexp_extract(col("doc_id"), "(\\d+)$", 1).cast("long").as("doc_id"),
    concat_ws(" ", transform(col("tokens"), t => t.cast("string"))).as("text"),
    col("source"))

  private def docs(n: Int, seed: Long): DataFrame =
    toText(TokenDocGen.generateDf(spark, n, seed, ctx.cores))

  /** Seed of the j-th input stream. TokenDocGen's row(seed, id) equals
    * row(id, seed), so streams keyed by small offsets of the seed would
    * repeat each other's docs; hashed seeds lie far outside the id range.
    */
  private def stream(j: Int): Long =
    Hashing.splitmix64(Hashing.splitmix64(ctx.seed) + j)

  /** `k` distinct ids of `ids`, a pure function of (seed, salt). */
  private def pick(k: Int, ids: Seq[Long], salt: Long): Seq[Long] = {
    val rnd = new scala.util.Random(Hashing.splitmix64(ctx.seed ^ salt))
    rnd.shuffle(ids.toVector).take(k).sorted
  }

  def setup(rep: Int): Unit = {
    dedupDir = ctx.dir(s"dedup-$rep")
    evalDir = ctx.dir(s"eval-$rep")
    span("sources.generate") {
      corpus = docs(CorpusDocs, ctx.seed).persist()
      eval = toText(TokenDocGen.generateDf(spark, EvalDrawn, stream(1), ctx.cores)
        .filter(col("n_tok") >= EvalMinTokens)).persist()
      corpus.count()
      val evalIdPool = eval.select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
      snaps = (0 until Snapshots).map { k =>
        val base = CorpusDocs + k * SnapIdStride
        val fresh = docs(FreshPerSnap, stream(2 + k))
          .select((col("doc_id") + base).as("doc_id"), col("text"), col("source"))
        val copyOff = base + FreshPerSnap
        val evalOff = copyOff + CorpusDocs
        val copyIds = pick(CopiesPerSnap, 0L until CorpusDocs.toLong, 2 * k + 1)
        val evalIds = pick(EvalPerSnap, evalIdPool, 2 * k + 2)
        val copies = corpus.filter(col("doc_id").isin(copyIds: _*))
          .select((col("doc_id") + copyOff).as("doc_id"), col("text"), col("source"))
        val evals = eval.filter(col("doc_id").isin(evalIds: _*))
          .select((col("doc_id") + evalOff).as("doc_id"), col("text"), col("source"))
        val frame = fresh.union(copies).union(evals).persist()
        val n = frame.count().toInt
        Snap(frame, n, copyIds.map(_ + copyOff).toSet, evalIds.map(_ + evalOff).toSet)
      }
    }
    span("operators.dedup_index_write") {
      Dedup.writeDedupIndex(corpus, dedupDir, numBands = 16, rowsPerBand = 8)
    }
    span("operators.eval_index_write") {
      Decontaminate.writeEvalIndex(eval, evalDir, n = Ngram)
    }
  }

  /** Docs of each snapshot that share an n-gram with the eval set,
    * computed on the driver from the texts.
    */
  def computeExact(): Unit = {
    val evalNgrams = eval.select(col("text")).collect()
      .flatMap(r => Decontaminate.ngramsOf(r.getString(0), Ngram)).toSet
    contaminated = snaps.map { s =>
      s.frame.select(col("doc_id"), col("text")).collect()
        .filter(r => Decontaminate.ngramsOf(r.getString(1), Ngram).exists(evalNgrams))
        .map(_.getLong(0)).toSet
    }
  }

  def teardown(): Unit = {
    snaps.foreach(_.frame.unpersist(blocking = true))
    Seq(corpus, eval).filter(_ != null).foreach(_.unpersist(blocking = true))
    Seq(dedupDir, evalDir).filter(_ != null).foreach(ctx.deleteDir)
  }

  def op(i: Int): Out = {
    val k = i % Snapshots
    val before = if (ctx.tracer.enabled) ctx.storageMb else 0.0
    val (kept, keptIds) = span("operators.dedup_incremental") {
      val pinned = Dedup.dedupIncremental(snaps(k).frame, dedupDir, threshold = 0.8)
        .select(col("doc_id"), col("text")).localCheckpoint()
      (pinned, pinned.select(col("doc_id")).collect().map(_.getLong(0)))
    }
    val pinnedMb = if (ctx.tracer.enabled) ctx.storageMb - before else 0.0
    val flagged = span("operators.contaminated") {
      Decontaminate.contaminatedVsIndex(kept, evalDir)
        .select(col("doc_id")).collect().map(_.getLong(0))
    }
    Out(k, keptIds, flagged, pinnedMb)
  }

  def items(o: Out): Long = snaps(o.snap).size

  def gate(o: Out): Seq[String] = {
    val s = snaps(o.snap)
    val kept = o.kept.toSet
    val flagged = o.flagged.toSet
    val hi = s.size - s.copies.size
    val lo = hi - hi / 50
    val copiesKept = (s.copies & kept).size
    val evalsMissed = (s.evals -- flagged).size
    val wantFlagged = contaminated(o.snap) & kept
    (if (copiesKept > 0) Seq(s"snapshot ${o.snap}: $copiesKept planted copies kept") else Nil) ++
      (if (evalsMissed > 0) Seq(s"snapshot ${o.snap}: $evalsMissed planted eval docs not flagged") else Nil) ++
      (if (flagged != wantFlagged)
         Seq(s"snapshot ${o.snap}: flagged ${flagged.size} docs, exact answer ${wantFlagged.size}")
       else Nil) ++
      (if (kept.size < lo || kept.size > hi)
         Seq(s"snapshot ${o.snap}: kept ${kept.size}, expected $lo..$hi")
       else Nil)
  }

  def quality: Map[String, Double] = Map.empty
  def storedMb: Option[Double] = Some(dirMb(dedupDir) + dirMb(evalDir))

  override def layerValues(outs: Seq[Out]): Map[String, Double] = Map(
    "operators.docs_dropped" ->
      Stats.median(outs.map(o => (snaps(o.snap).size - o.kept.length).toDouble)),
    "operators.docs_flagged" -> Stats.median(outs.map(_.flagged.length.toDouble)),
    "operators.pinned_mb" -> outs.map(_.pinnedMb).max)

  def replayInputs(): (Array[Int], Array[Int], Array[Double]) = {
    val texts = snaps(0).frame.select(col("text")).take(2000).map(_.getString(0))
    val toks = texts.flatMap(t => TokenDocs.tokenize(t))
    (toks, Array.tabulate(toks.length)(Vocab + _),
      repeatTo(texts.map(t => TokenDocs.tokenize(t).length.toDouble), 200000))
  }
}
