package graft.assembly

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Catalog-table plumbing shared by the incremental stores
  * ([[IncrementalReadonly]], [[IncrementalBelief]],
  * [[IncrementalOntologyEdges]]): hash-shard partition columns and
  * shard-list pruning, guarded appends, and dynamic-partition-overwrite
  * upserts.
  *
  * Every table in these stores is partitioned by a `pmod(key, shards)`
  * shard column so that delta maintenance touches only the partitions a
  * batch's keys land in — the 100 TB shape is "rewrite a handful of
  * shard directories", never "rewrite the table".
  */
private[assembly] object ShardedStore {

  /** The shard column of [[IncrementalBelief]]'s and
    * [[IncrementalOntologyEdges]]' tables. */
  val Shard = "shard"

  def shardOf(c: Column, shards: Int): Column =
    pmod(c, lit(shards)).cast("int")

  /** The distinct [[Shard]] values of `df` (collected to the driver). */
  def shardsOf(df: DataFrame): Seq[Int] =
    df.select(Shard).distinct().collect().map(_.getInt(0)).toSeq

  /** Literal-list partition filter; an empty delta prunes everything. */
  def inShards(c: Column, ss: Seq[Int]): Column =
    if (ss.isEmpty) lit(false) else c.isin(ss: _*)

  private def checkpoint(db: String, name: String): Unit =
    StoreFaults.onWrite(s"$db.$name")

  def exists(spark: SparkSession, db: String, name: String): Boolean =
    spark.catalog.tableExists(s"$db.$name")

  /** A table another session (e.g. a foreachBatch clone) may have written:
    * refresh the relation cache before reading. */
  def refreshed(spark: SparkSession, db: String, name: String): DataFrame = {
    spark.catalog.refreshTable(s"$db.$name")
    spark.table(s"$db.$name")
  }

  /** A location a previous PROCESS left behind is invisible to this
    * session's fresh catalog and would fail CREATE — clear it, like
    * [[Deploy]] does. */
  def clearStaleLocation(
      spark: SparkSession, db: String, suffix: String): Unit = {
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val loc = new org.apache.hadoop.fs.Path(s"$warehouse/$db.db/$suffix")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** Create-or-append with the table's own column order (insertInto is
    * positional; catalog tables list partition columns last). */
  def append(
      spark: SparkSession, db: String, name: String, df: DataFrame,
      partCols: Seq[String]): Unit = {
    checkpoint(db, name)
    if (!exists(spark, db, name)) {
      clearStaleLocation(spark, db, name)
      df.write.partitionBy(partCols: _*).format("parquet")
        .saveAsTable(s"$db.$name")
    } else {
      val order = spark.table(s"$db.$name").columns
      df.select(order.map(col): _*).write.mode("append")
        .insertInto(s"$db.$name")
    }
  }

  /** Dynamic-partition-overwrite upsert of one derived table: only the
    * partitions present in `df` (= the touched shards) are replaced. */
  def overwriteShards(
      spark: SparkSession, db: String, name: String, df: DataFrame,
      shardCol: String): Unit = {
    checkpoint(db, name)
    if (!exists(spark, db, name)) {
      clearStaleLocation(spark, db, name)
      df.write.partitionBy(shardCol).format("parquet")
        .saveAsTable(s"$db.$name")
    } else {
      val order = spark.table(s"$db.$name").columns
      // the writer OPTION does not reach the insertInto command path —
      // scope the session conf around the write instead
      val key = "spark.sql.sources.partitionOverwriteMode"
      val prev = spark.conf.get(key)
      spark.conf.set(key, "dynamic")
      try df.select(order.map(col): _*).write.mode("overwrite")
        .insertInto(s"$db.$name")
      finally spark.conf.set(key, prev)
    }
  }

  /** Drop a store database and any on-disk remains a previous process
    * left. */
  def reset(spark: SparkSession, db: String): Unit = {
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    clearStaleLocation(spark, db, "")
  }
}
