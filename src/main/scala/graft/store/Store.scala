package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField,
  StructType}
import graft.sources.BucketedTables

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
  *
  * Every table graft persists is a [[Table]] with a declared schema
  * (the catalog is [[Tables]]): writers check, readers pin. A reader
  * passes the declared schema to Spark, so opening a table lists its
  * files and starts no job; a table directory with no data files is
  * refused with the table's name, as schema inference refuses it.
  * Where an index's tables live is one [[Location]]: a directory or a
  * catalog table prefix, both behind the same read, write and drop.
  */
object Store {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** A persisted parquet table `name` with a declared schema.
    * Partition columns (`batch_id=`, `snapshot=`) are not part of it:
    * they come from the directory names, not from the files. At a
    * catalog [[Location]] the table is bucketed on `bucketKey`, the key
    * its readers join or group on, so they read it unshuffled.
    */
  final case class Table(name: String, schema: StructType,
                         bucketKey: Option[String] = None) {

    /** This table bucketed on `key` at a catalog location. */
    def bucketedBy(key: String): Table = copy(bucketKey = Some(key))

    /** `df`, once its columns are exactly the declared ones: same names,
      * types and order, nullability ignored (a file read makes every
      * column nullable anyway). Looks at the plan only, so it costs the
      * driver nothing.
      */
    def check(df: DataFrame): DataFrame = {
      require(shape(df.schema) == shape(schema),
        s"table $name is declared as ${schema.simpleString}; refusing " +
          s"to write ${df.schema.simpleString}")
      df
    }

    /** `dir/name`, read with the declared schema. */
    def read(spark: SparkSession, dir: String): DataFrame =
      read(spark, Location.Dir(dir))

    /** This table at `at`. A directory is read with the declared schema
      * ([[readAt]]); a catalog table keeps its bucketing and is refused
      * by name unless its schema is the declared one.
      */
    def read(spark: SparkSession, at: Location): DataFrame = at match {
      case Location.Dir(dir) => readAt(spark, s"$dir/$name")
      case c: Location.Catalog =>
        val df = spark.table(c.of(this))
        if (shape(df.schema) != shape(schema))
          throw new IllegalStateException(s"table ${c.of(this)} is " +
            s"declared as ${schema.simpleString}; it holds " +
            s"${df.schema.simpleString}")
        df
    }

    /** The table stored at `paths` (its own directory, or some of its
      * partition directories), read with the declared schema. A column
      * missing from the files (one an older writer did not have) reads
      * as null. A missing path fails as Spark fails it; a path with no
      * data files is refused, since an index directory without files is
      * a broken write, not an empty table (a written empty frame still
      * leaves one file).
      */
    def readAt(spark: SparkSession, paths: String*): DataFrame = {
      val df = spark.read.schema(schema).parquet(paths: _*)
      // the file index is listed when the relation resolves, so this
      // reads the listing it already holds
      if (df.inputFiles.isEmpty)
        throw new IllegalStateException(s"table $name at " +
          s"${paths.mkString(", ")} has no data files; it was never " +
          "written or its write did not finish")
      df
    }

    /** Write `df`, once [[check]]ed, as this table at `at`: replacing
      * it, or with `append` adding to it. A catalog table is replaced
      * through [[BucketedTables.replaceTable]], which heals a crashed
      * earlier write, and takes no appends.
      */
    def write(df: DataFrame, at: Location, append: Boolean = false): Unit =
      at match {
        case Location.Dir(dir) =>
          check(df).write.mode(if (append) SaveMode.Append else SaveMode.Overwrite)
            .parquet(s"$dir/$name")
        case c: Location.Catalog =>
          require(!append, s"table ${c.of(this)} takes no appends: append " +
            "to a directory index and compact it into the catalog")
          bucketKey match {
            case Some(k) =>
              BucketedTables.writeBucketed(check(df), c.of(this), k, c.numBuckets)
            case None => BucketedTables.saveTable(check(df), c.of(this))
          }
      }

    /** Replace this table at `at` in one commit: a [[swap]] of its
      * directory, or a catalog [[write]].
      */
    def replace(df: DataFrame, at: Location): Unit = at match {
      case Location.Dir(dir) =>
        swap(df.sparkSession, dir, name) { next =>
          check(df).write.mode(SaveMode.Overwrite).parquet(next)
        }
      case _ => write(df, at)
    }
  }

  object Table {
    /** A table declared by a DDL column list, e.g. "w STRING, c BIGINT". */
    def apply(name: String, ddl: String): Table =
      Table(name, StructType.fromDDL(ddl))
  }

  /** Where an index's declared tables live. Every operator over an
    * index is written once, over a location.
    */
  sealed trait Location {
    /** Table `t` here, as messages name it. */
    def of(t: Table): String
    def exists(spark: SparkSession, t: Table): Boolean
    /** Remove table `t` here, if it is present. */
    def drop(spark: SparkSession, t: Table): Unit
    /** Roll a crashed [[Table.replace]] of `t` forward or back. */
    def heal(spark: SparkSession, t: Table): Unit
  }

  object Location {
    /** One subdirectory `dir/<name>` per table. */
    final case class Dir(dir: String) extends Location {
      override def toString: String = dir
      def of(t: Table): String = s"$dir/${t.name}"
      def exists(spark: SparkSession, t: Table): Boolean =
        fs(spark, dir).exists(new Path(of(t)))
      def drop(spark: SparkSession, t: Table): Unit =
        if (exists(spark, t))
          require(fs(spark, dir).delete(new Path(of(t)), true),
            s"drop: delete failed for ${of(t)}")
      def heal(spark: SparkSession, t: Table): Unit = Store.heal(spark, dir, t.name)
    }

    /** One managed catalog table `<prefix>_<name>` per table, bucketed
      * into `numBuckets` buckets on its [[Table.bucketKey]]; a location
      * that is only read needs no bucket count.
      */
    final case class Catalog(prefix: String, numBuckets: Int = 0)
        extends Location {
      override def toString: String = s"tables ${prefix}_*"
      def of(t: Table): String = s"${prefix}_${t.name}"
      def exists(spark: SparkSession, t: Table): Boolean =
        spark.catalog.tableExists(of(t))
      def drop(spark: SparkSession, t: Table): Unit =
        BucketedTables.replaceTable(spark, of(t))
      // a catalog write replaces its table in place and heals an
      // orphaned location itself
      def heal(spark: SparkSession, t: Table): Unit = ()
    }
  }

  /** `dt` with every nullability flag set and field metadata dropped. */
  private def shape(dt: DataType): DataType = dt match {
    case s: StructType =>
      StructType(s.fields.map(f => StructField(f.name, shape(f.dataType))))
    case a: ArrayType => ArrayType(shape(a.elementType))
    case m: MapType => MapType(shape(m.keyType), shape(m.valueType))
    case other => other
  }

  /** Largest non-null `column` value of a small table (a manifest or a
    * meta table, one row per write), collected and folded on the
    * driver: one scan job, no aggregate exchange. A table without such
    * a value is refused, naming `where`.
    */
  def maxOf[T: Ordering](df: DataFrame, column: String, where: String): T = {
    val vs = df.select(column).collect().toSeq
      .filterNot(_.isNullAt(0)).map(_.getAs[T](0))
    if (vs.isEmpty)
      throw new IllegalStateException(s"$where holds no $column value; " +
        "it was written empty or its write did not finish")
    vs.max
  }

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

    /** (committed ids, folded_up_to); a log written before the column
      * existed reads it as null, which means -1.
      */
    def read(spark: SparkSession, dir: String): (Set[Long], Long) = {
      heal(spark, dir, "batches")
      // bounded: one row per committed batch
      val rows = Tables.Batches.read(spark, dir).collect()
      val folded = rows.map(r => if (r.isNullAt(1)) -1L else r.getLong(1))
      (rows.map(_.getLong(0)).toSet, (-1L +: folded).max)
    }

    /** Replace the log with `ids`, as one [[swap]]. */
    def commit(spark: SparkSession, dir: String, ids: Set[Long],
               foldedUpTo: Long): Unit = {
      import spark.implicits._
      swap(spark, dir, "batches") { next =>
        Tables.Batches.check(ids.toSeq.sorted.map((_, foldedUpTo))
            .toDF("batch_id", "folded_up_to"))
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
