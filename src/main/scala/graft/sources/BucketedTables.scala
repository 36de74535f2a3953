package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed-table helpers: pre-partition a table by its join key ONCE at
  * write time so every later equi-join or aggregation on that key runs
  * exchange-free (co-located). At 100 TB the token table is written
  * bucketed by doc_id hash; per-doc joins (dedup verify, enrichment,
  * checkpoint reconciliation) then never shuffle the big side again —
  * the write amortizes the one unavoidable shuffle across every
  * downstream job.
  *
  * Bucketing uses Spark's managed-table bucket layout (HashPartitioning
  * contract), so both sides of a join bucketed by the same column count
  * report compatible output partitionings and Catalyst elides both
  * exchanges (PlanSpec asserts this).
  */
object BucketedTables {

  /** Make a rebuild of a managed table deterministic after a crash:
    * drop the table if registered, then delete an ORPHANED managed
    * location a killed writer may have left behind — Spark refuses to
    * create a managed table over an existing directory
    * (LOCATION_ALREADY_EXISTS), so without this a crashed write
    * permanently blocks its own retry.
    */
  def replaceTable(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val p = new org.apache.hadoop.fs.Path(
      s"$wh/${table.toLowerCase(java.util.Locale.ROOT)}")
    val fs = graft.store.Store.fs(spark, p.toString)
    if (fs.exists(p))
      require(fs.delete(p, true), s"replaceTable: delete failed for $p")
  }

  /** Replace-then-save for small unbucketed tables (manifests). */
  def saveTable(df: DataFrame, table: String): Unit = {
    replaceTable(df.sparkSession, table)
    df.write.mode(SaveMode.Overwrite).saveAsTable(table)
  }

  /** Write `df` as a managed parquet table bucketed by `keyCol`. */
  def writeBucketed(df: DataFrame, table: String, keyCol: String,
                    numBuckets: Int): Unit = {
    replaceTable(df.sparkSession, table)
    df.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(numBuckets, keyCol).saveAsTable(table)
  }

  def read(spark: SparkSession, table: String): DataFrame =
    spark.table(table)
}
