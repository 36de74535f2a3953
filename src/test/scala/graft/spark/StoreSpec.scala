package graft.spark

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Decontaminate, Dedup, SpanDedup}
import graft.store.{Store, Tables}
import graft.store.Store.BatchLog

/** Local filesystem under the `crashfs` scheme that throws, instead of
  * acting, on the first delete or rename of a path whose name is
  * `CrashFs.failOn` — a process killed right before that step.
  */
class CrashFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("crashfs:///")
  private def cut(op: String, p: Path): Unit =
    if (CrashFs.failOn.contains((op, p.getName))) {
      CrashFs.failOn = None
      throw new java.io.IOException(s"crash before $op of $p")
    }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    cut("delete", p); super.delete(p, recursive)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    cut("rename", src); super.rename(src, dst)
  }
}
object CrashFs { @volatile var failOn: Option[(String, String)] = None }

/** The shared commit protocol of every persisted index: a crash after
  * each step of a swap heals to the old or the new value, and the batch
  * log keeps its exactly-once contract.
  */
class StoreSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  test("swap: a crash after each step heals to the old or the new value") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.crashfs.impl", classOf[CrashFs].getName)
    def put(p: String, v: String): Unit = {
      val out = Store.fs(spark, p).create(new Path(p), true)
      try out.write(v.getBytes(UTF_8)) finally out.close()
    }
    def live(dir: String): String = {
      val f = Store.fs(spark, dir)
      assert(!f.exists(new Path(dir, "v.next")), "heal leaves no staged copy")
      val in = f.open(new Path(dir, "v"))
      try new String(in.readAllBytes(), UTF_8) finally in.close()
    }
    // (crash point, value live after heal): before the delete the old
    // value is still live; once it is deleted the staged one is the
    // commit record and rolls forward
    val cases = Seq(
      Some(("delete", "v")) -> "old",    // cut after the stage
      Some(("rename", "v.next")) -> "new", // cut after the delete
      None -> "new")                     // cut after the rename
    for ((crash, want) <- cases) {
      val dir = "crashfs://" + tmp("graft-store-swap")
      Store.swap(spark, dir, "v")(put(_, "old"))
      CrashFs.failOn = crash
      val attempt = scala.util.Try(Store.swap(spark, dir, "v")(put(_, "new")))
      assert(attempt.isFailure == crash.nonEmpty, s"$crash: $attempt")
      Store.heal(spark, dir, "v")
      assert(live(dir) == want, s"crash at $crash")
      // the next swap lands cleanly on the healed state
      Store.swap(spark, dir, "v")(put(_, "next"))
      assert(live(dir) == "next")
    }
    // a crash inside the stage leaves a partial copy beside the live
    // value: dropped, never rolled forward
    val dir = "crashfs://" + tmp("graft-store-stage")
    Store.swap(spark, dir, "v")(put(_, "old"))
    intercept[IllegalStateException] {
      Store.swap(spark, dir, "v") { next =>
        put(next, "ne"); throw new IllegalStateException("crash in stage")
      }
    }
    Store.heal(spark, dir, "v")
    assert(live(dir) == "old")
  }

  test("BatchLog: exactly-once replay, legacy logs without folded_up_to") {
    val dir = tmp("graft-store-log")
    BatchLog.commit(spark, dir, Set(0L), -1L)
    var writes = 0
    assert(BatchLog.append(spark, dir, 1L)(writes += 1))
    assert(!BatchLog.append(spark, dir, 1L)(writes += 1), "committed id")
    assert(writes == 1)
    assert(BatchLog.read(spark, dir) == ((Set(0L, 1L), -1L)))
    // a compaction folds {0, 1} into 2 and burns every id up to 1
    BatchLog.compact(spark, dir, Nil)((ids, newId) =>
      assert(ids == Set(0L, 1L) && newId == 2L))
    assert(BatchLog.read(spark, dir) == ((Set(2L), 1L)))
    for (id <- Seq(0L, 1L))
      assert(!BatchLog.append(spark, dir, id)(writes += 1),
        s"replay of folded id $id must be a no-op")
    assert(writes == 1)
    assert(BatchLog.append(spark, dir, 3L)(writes += 1))
    assert(BatchLog.read(spark, dir) == ((Set(2L, 3L), 1L)))

    // a log written before compaction existed has no folded_up_to
    val old = tmp("graft-store-oldlog")
    Seq(0L, 4L).toDF("batch_id").coalesce(1).write.parquet(s"$old/batches")
    assert(BatchLog.read(spark, old) == ((Set(0L, 4L), -1L)))

    // the multi-file log of a row-appending writer reads the same set,
    // and its next commit rewrites it as one swapped log
    val multi = tmp("graft-store-multilog")
    Seq((0L, -1L)).toDF("batch_id", "folded_up_to")
      .coalesce(1).write.parquet(s"$multi/batches")
    for (id <- Seq(1L, 2L))
      Seq((id, -1L)).toDF("batch_id", "folded_up_to")
        .write.mode("append").parquet(s"$multi/batches")
    assert(BatchLog.read(spark, multi) == ((Set(0L, 1L, 2L), -1L)))
    assert(BatchLog.append(spark, multi, 3L)(()))
    assert(BatchLog.read(spark, multi) == ((Set(0L, 1L, 2L, 3L), -1L)))
  }

  test("eval index: loadEvalFilter drops a stale staged filter, rolls a lone one forward") {
    val evalDocs = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val dir = tmp("graft-store-evalidx")
    Decontaminate.writeEvalIndex(evalDocs, dir, n = 3, fpr = 1e-6)
    val want = Decontaminate.loadEvalFilter(spark, dir)
    val f = Store.fs(spark, dir)
    val live = new Path(dir, "filter.bloom")
    val next = new Path(dir, "filter.bloom.next")
    // a crash mid-stage of a rewrite: truncated copy beside the live one
    val out = f.create(next, true)
    try out.write(Array[Byte](1, 2, 3)) finally out.close()
    assert(Decontaminate.loadEvalFilter(spark, dir) == want)
    assert(!f.exists(next), "stale staged filter must be dropped")
    // a crash between delete and rename: only the staged filter is left
    assert(f.rename(live, next))
    assert(Decontaminate.loadEvalFilter(spark, dir) == want)
    assert(f.exists(live) && !f.exists(next))
  }

  test("span index: readSpanIndexMinLen heals a lone staged manifest") {
    val corpus = Seq((0L, (1 to 20).map(i => s"a$i").mkString(" ")))
      .toDF("doc_id", "text")
    val dir = tmp("graft-store-spanidx")
    SpanDedup.writeSpanIndex(corpus, dir, minLen = 8)
    val f = Store.fs(spark, dir)
    assert(f.rename(new Path(dir, "manifest"), new Path(dir, "manifest.next")))
    assert(SpanDedup.readSpanIndexMinLen(spark, dir) == 8)
    assert(f.exists(new Path(dir, "manifest")))
  }

  test("declared tables: a writer's frame must match, an empty table is refused") {
    // nullability is ignored: a local Seq's longs are non-nullable
    Tables.Batches.check(Seq((1L, -1L)).toDF("batch_id", "folded_up_to"))
    val misfits = Seq(
      Seq(1).toDF("batch_id"),                                  // type, arity
      Seq((-1L, 1L)).toDF("folded_up_to", "batch_id"),          // order
      Seq((1L, -1L)).toDF("batch_id", "folded"))                // name
    misfits.foreach { df =>
      val e = intercept[IllegalArgumentException](Tables.Batches.check(df))
      assert(e.getMessage.contains(Tables.Batches.schema.simpleString) &&
        e.getMessage.contains(df.schema.simpleString), e.getMessage)
    }
    // shingle toksets are declared array<bigint>, token ids array<int>:
    // both writers pass their check and both readers open their index
    val docs = Seq((0L, "a b c d e f", "s")).toDF("doc_id", "text", "source")
    val snap = Seq((1L, "a b c d e g", "s")).toDF("doc_id", "text", "source")
    for (ngram <- Seq(1, 2)) {
      val idx = tmp(s"graft-store-ngram$ngram")
      Dedup.writeDedupIndex(docs, idx, ngram = ngram)
      assert(Dedup.dedupIncremental(snap, idx).count() == 1L)
    }
    // an index table directory without data files is a broken write:
    // refused with the table's name, empty or holding only a marker
    val dir = tmp("graft-store-empty")
    Dedup.writeDedupIndex(docs, dir)
    val f = Store.fs(spark, dir)
    for (marker <- Seq(false, true)) {
      assert(f.delete(new Path(dir, "manifest"), true))
      assert(f.mkdirs(new Path(dir, "manifest")))
      if (marker) f.create(new Path(dir, "manifest/_SUCCESS")).close()
      val e = intercept[IllegalStateException](
        Dedup.readIndexManifest(spark, dir))
      assert(e.getMessage.contains("table manifest"), e.getMessage)
    }
  }

  test("catalog location: checked writes, no appends, a misdeclared table refused by name") {
    import Store.Location.Catalog
    val at = Catalog("graft_store_cat", 2)
    try {
      val e = intercept[IllegalArgumentException](Tables.Dedup.Digests.write(
        Seq((1L, 2L)).toDF("doc_id", "content_md5"), at))
      assert(e.getMessage.contains("table digests is declared"), e.getMessage)
      val digests = Seq((1L, "a")).toDF("doc_id", "content_md5")
      Tables.Dedup.Digests.write(digests, at)
      assert(Tables.Dedup.Digests.read(spark, at).count() == 1)
      assert(at.exists(spark, Tables.Dedup.Digests))
      val e2 = intercept[IllegalArgumentException](
        Tables.Dedup.Digests.write(digests, at, append = true))
      assert(e2.getMessage.contains("takes no appends"), e2.getMessage)
      // a table some other writer left under the declared name
      Seq((1L, 2L)).toDF("doc_id", "content_md5")
        .write.saveAsTable("graft_store_cat_bands")
      val e3 = intercept[IllegalStateException](Tables.Dedup.Bands.read(spark, at))
      assert(e3.getMessage.contains("graft_store_cat_bands"), e3.getMessage)
      Seq(Tables.Dedup.Digests, Tables.Dedup.Bands).foreach(at.drop(spark, _))
      assert(!at.exists(spark, Tables.Dedup.Digests) &&
        !at.exists(spark, Tables.Dedup.Bands))
    } finally Seq("digests", "bands").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS graft_store_cat_$t"))
  }

  test("source scan: operators and plans open index tables only through a location") {
    // catalog tables are a Store.Location, like directories: an operator
    // that names one itself is a second copy of the index code
    val calls = """spark\.table\(|saveAsTable|bucketBy|BucketedTables\.|catalog\.tableExists""".r
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"sources not found from ${root.getAbsolutePath}")
    val files = for {
      sub <- Seq("operators", "plans")
      file <- Option(new java.io.File(root, sub).listFiles()).toSeq.flatten
      if file.getName.endsWith(".scala")
    } yield (sub, file)
    assert(files.exists(_._2.getName == "Dedup.scala"), files)
    val found = for {
      (sub, file) <- files
      (line, n) <- new String(java.nio.file.Files.readAllBytes(file.toPath), UTF_8)
        .split('\n').zipWithIndex
      if calls.findFirstIn(line).nonEmpty
    } yield s"$sub/${file.getName}:${n + 1}: ${line.trim}"
    assert(found.isEmpty, "catalog calls outside graft.store (write the " +
      s"operator over a Store.Location): ${found.mkString("; ")}")
  }

  test("source scan: Dedup reads its manifests at one call site") {
    // a second manifest reader is a second copy of the index; one line
    // each, with the reason, for the defs that read one
    val allowed = Map("manifestAt" -> "the one reader of every dedup manifest")
    val file = new java.io.File("src/main/scala/graft/operators/Dedup.scala")
    assert(file.isFile, s"sources not found from ${file.getAbsolutePath}")
    val lines = new String(java.nio.file.Files.readAllBytes(file.toPath), UTF_8)
      .split('\n')
    val read = """[Mm]anifest\.read\(""".r
    val enclosing = """\bdef (\w+)""".r
    val found = for {
      (line, n) <- lines.toSeq.zipWithIndex
      if read.findFirstIn(line).nonEmpty
    } yield lines.take(n + 1).reverseIterator
      .flatMap(enclosing.findFirstMatchIn(_)).nextOption()
      .fold("<top level>")(_.group(1)) -> s"Dedup.scala:${n + 1}: ${line.trim}"
    assert(found.size <= 1, "manifest reads at more than one call site " +
      s"(read through manifestAt): ${found.map(_._2).mkString("; ")}")
    val stray = found.filterNot { case (d, _) => allowed.contains(d) }
    assert(stray.isEmpty, s"manifest reads outside ${allowed.keys.mkString(", ")}: " +
      stray.map(_._2).mkString("; "))
    assert(found.map(_._1).toSet == allowed.keySet,
      s"allowlist entries with no read left: ${allowed.keySet -- found.map(_._1)}")
  }

  test("source scan: graft's own tables are read with their declared schema") {
    // caller-typed tables keep inference; one line each, with the reason
    val allowed = Map(
      ("operators/Ann.scala", "/lists") -> "the caller's id and vector columns",
      ("operators/Drift.scala", "/source_counts") -> "the caller's source column",
      ("operators/TextAnalysis.scala", "/sketches") -> "the caller's source column")
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"sources not found from ${root.getAbsolutePath}")
    val read = """\.read\s*\.parquet\(""".r
    val found = for {
      sub <- Seq("operators", "plans", "store")
      file <- Option(new java.io.File(root, sub).listFiles()).toSeq.flatten
      if file.getName.endsWith(".scala") && file.getName != "Store.scala"
      text = new String(java.nio.file.Files.readAllBytes(file.toPath), UTF_8)
      m <- read.findAllMatchIn(text)
    } yield {
      val line = text.substring(m.start).takeWhile(_ != '\n')
      (s"$sub/${file.getName}", line)
    }
    val stray = found.filterNot { case (file, line) =>
      allowed.keys.exists { case (f, table) => f == file && line.contains(table) }
    }
    assert(stray.isEmpty, "inferred reads of declared tables (read them " +
      s"through graft.store.Tables): ${stray.mkString("; ")}")
    val used = allowed.keySet.filter { case (f, table) =>
      found.exists { case (file, line) => file == f && line.contains(table) }
    }
    assert(used == allowed.keySet,
      s"allowlist entries with no read left: ${allowed.keySet -- used}")
  }
}
