package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one commit protocol every persisted index uses. A live file or
  * directory `dir/name` is never rewritten in place: the new value is
  * staged at `dir/name.next`, the live one is deleted, and the staged
  * one is renamed over it. Every delete and rename result is checked.
  * The only non-atomic window is between the delete and the rename, and
  * [[heal]] closes it from any entry point: a lone `name.next` means the
  * swap passed the point of no return, so it is rolled forward; a
  * `name.next` beside a live `name` means the swap never started, so it
  * is dropped. A crash at any step therefore leaves the old value or the
  * new one live, never neither.
  */
object Store {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Roll a crashed [[swap]] of `dir/name` forward or back. */
  def heal(spark: SparkSession, dir: String, name: String): Unit = {
    val f = fs(spark, dir)
    val live = new Path(dir, name)
    val next = new Path(dir, s"$name.next")
    if (f.exists(next)) {
      if (!f.exists(live))
        require(f.rename(next, live), s"heal: rename failed for $live")
      else require(f.delete(next, true), s"heal: delete failed for $next")
    }
  }

  /** Replace `dir/name`: `stage` writes the new value at the path it is
    * given (`dir/name.next`); the swap then makes it live.
    */
  def swap(spark: SparkSession, dir: String, name: String)
          (stage: String => Unit): Unit = {
    heal(spark, dir, name)
    val live = new Path(dir, name)
    val next = new Path(dir, s"$name.next")
    stage(next.toString)
    val f = fs(spark, dir)
    if (f.exists(live))
      require(f.delete(live, true), s"swap: delete failed for $live")
    require(f.rename(next, live), s"swap: rename failed for $next")
  }

  /** Delete the children of `dir` named `prefix<id>` whose id is not in
    * `live` (superseded versions, folded batches, crash leftovers). It
    * runs after a commit, so a failed delete only logs: the leftover is
    * invisible to readers and the next GC retries it.
    */
  def gc(spark: SparkSession, dir: String, prefix: String,
         live: Set[Long]): Unit = {
    val f = fs(spark, dir)
    f.listStatus(new Path(dir)).map(_.getPath)
      .filter(_.getName.startsWith(prefix))
      .filterNot(p => p.getName.stripPrefix(prefix).toLongOption.exists(live))
      .foreach { p =>
        if (!f.delete(p, true)) log.warn(s"gc: delete failed for $p")
      }
  }

  /** The exactly-once batch log `dir/batches`: one (batch_id,
    * folded_up_to) row per committed batch. Batch data is written first
    * and committed second, so uncommitted data stays invisible.
    * `folded_up_to` is the highest id ever folded away by a compaction;
    * an id at or below it was committed once, so a replay of it must
    * stay a no-op even though it is no longer in the log.
    */
  object BatchLog {

    /** (committed ids, folded_up_to); a log without the column reads -1. */
    def read(spark: SparkSession, dir: String): (Set[Long], Long) = {
      heal(spark, dir, "batches")
      val df = spark.read.parquet(s"$dir/batches")
      val rows = df.collect() // bounded: one row per committed batch
      val folded =
        if (df.columns.contains("folded_up_to"))
          rows.map(_.getAs[Long]("folded_up_to")).max
        else -1L
      (rows.map(_.getAs[Long]("batch_id")).toSet, folded)
    }

    /** Replace the log with `ids`, as one [[swap]]. */
    def commit(spark: SparkSession, dir: String, ids: Set[Long],
               foldedUpTo: Long): Unit = {
      import spark.implicits._
      swap(spark, dir, "batches") { next =>
        ids.toSeq.sorted.map((_, foldedUpTo)).toDF("batch_id", "folded_up_to")
          .coalesce(1).write.mode("overwrite").parquet(next)
      }
    }

    /** Write batch `id` with `write`, then commit it. A replay of a
      * committed or folded id is a no-op and returns false.
      */
    def append(spark: SparkSession, dir: String, id: Long)
              (write: => Unit): Boolean = {
      val (ids, folded) = read(spark, dir)
      if (ids(id) || id <= folded) false
      else {
        write
        commit(spark, dir, ids + id, folded)
        true
      }
    }

    /** Fold every committed batch into one under a fresh id: `fold`
      * writes the merged data of `ids` as batch `newId`, the log is
      * switched to that one batch, and the batch dirs named
      * `batch_id=<id>` under `dataDirs` that the log no longer names are
      * GC'd. A crash before the switch leaves invisible garbage that the
      * next compaction's GC sweeps.
      */
    def compact(spark: SparkSession, dir: String, dataDirs: Seq[String])
               (fold: (Set[Long], Long) => Unit): Unit = {
      val (ids, folded) = read(spark, dir)
      require(ids.nonEmpty, s"no committed batches at $dir")
      val live =
        if (ids.size > 1) {
          val newId = ids.max + 1
          fold(ids, newId)
          commit(spark, dir, Set(newId), math.max(folded, ids.max))
          Set(newId)
        } else ids
      dataDirs.foreach(gc(spark, _, "batch_id=", live))
    }
  }
}
