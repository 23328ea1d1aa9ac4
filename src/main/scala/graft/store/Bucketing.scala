package graft.store

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Bucketed co-located joins: pre-shuffle both sides of a repeated
  * fact-fact join ONCE at write time so every subsequent join on the
  * bucket key runs with zero exchanges (SortMergeJoin over co-located
  * buckets). The 100 TB answer to "lineitem ⋈ orders shuffles both
  * sides every query".
  *
  * Uses `bucketBy` + `saveAsTable` (bucket metadata lives in the
  * session catalog; plain parquet paths cannot carry it).
  */
object Bucketing {

  /** Write `df` bucketed by `key` into managed table `table`. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      numBuckets: Int = 32, sortBy: Option[String] = None): Unit = {
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, key)
    sortBy.fold(w)(s => w.sortBy(s)).saveAsTable(table)
  }

  /** Join two bucketed tables on their bucket key — plans with no
    * Exchange when bucket counts match (verify via
    * `joinBucketed(...).queryExecution`). */
  def joinBucketed(spark: SparkSession, leftTable: String,
      rightTable: String, key: String): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), key)
}

/** Hash-bucketed (dedupe_key → date_month) secondary index — the
  * pruned answer to "which months already hold these keys", which the
  * partitioned upsert previously answered with a 2-column scan of the
  * ENTIRE store per ingest batch (cheap at fixture scale, a full-store
  * probe at 100 TB).
  *
  * Layout: parquet partitioned by `kb = pmod(hash(dedupe_key), B)` —
  * the directory form of a bucketed table (catalog-free, so it can
  * live next to a path-addressed store; `bucketBy` requires the
  * session catalog). A probe for a batch's keys prunes to the batch's
  * bucket dirs at planning time, reading min(|batch keys|, B)/B of an
  * index that is itself only 2 columns of the store. Maintenance after
  * an upsert is read-modify-write of ONLY the touched buckets via
  * dynamic partition overwrite.
  */
class KeyIndex(spark: SparkSession, val path: String, numBuckets: Int = 64) {

  private def kb(c: Column): Column = pmod(hash(c), lit(numBuckets))

  private val schema =
    StructType.fromDDL("dedupe_key STRING, date_month STRING, kb INT")

  private val fs =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Validity marker, dropped before any mutation and re-created only
    * after a successful commit. Partition-overwrite commits are not
    * atomic (deletes happen file-by-file inside commitJob), so a crash
    * mid-refresh must leave the index LOOKING absent — the store then
    * falls back to [[rebuild]] instead of trusting a half-rewritten
    * bucket and silently missing a month that holds a batch key. */
  private val okMarker = new Path(path, "_GRAFT_INDEX_OK")

  def exists: Boolean = fs.exists(okMarker)

  /** Drop the validity marker WITHOUT touching index data — called by
    * the store before it mutates store partitions. The index only
    * becomes stale once the store changes, so the unsafe window is
    * store-write → refresh-commit, not just refresh itself: a crash
    * between those must leave the index distrusted (→ bootstrap
    * rebuild), or a later upsert probes months from the pre-crash
    * index, misses the month already holding a batch key, and writes a
    * duplicate dedupe_key. */
  def invalidate(): Unit = { fs.delete(okMarker, false); () }

  private def write(entries: DataFrame, overwriteMode: String): Unit = {
    fs.delete(okMarker, false)
    entries
      .select(col("dedupe_key"), col("date_month"),
        kb(col("dedupe_key")).as("kb"))
      // cluster by bucket before the partitioned write: otherwise every
      // task emits a sliver into every touched kb dir — #tasks × #buckets
      // near-empty files per refresh, pure footer/commit overhead (the
      // small-files rule). REBALANCE packs buckets to the advisory
      // size, so a 2-column index writes ~one file per touched bucket.
      .hint("rebalance", col("kb"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", overwriteMode)
      .partitionBy("kb")
      .parquet(path)
    fs.create(okMarker, true).close()
  }

  /** Full (re)build from (dedupe_key, date_month) rows — bootstrap for
    * stores created before the index existed. */
  def rebuild(entries: DataFrame): Unit = write(entries, "static")

  /** The index restricted to `keys`' buckets — a planning-time-pruned
    * read (`PartitionFilters: [kb IN ...]`), never a full-index scan.
    * The collected bucket-id list is bounded by `numBuckets`. One
    * driver-side listing of the index root picks the touched `kb=` dirs
    * that exist, read with the fixed schema: listing the whole root
    * (64 dirs, above `parallelPartitionDiscovery.threshold`) would start
    * a parallel-listing job, and schema inference one more. */
  private[store] def prunedFor(keys: DataFrame): DataFrame = {
    val kbs = keys.select(kb(col("dedupe_key")).as("kb")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val dirs = kbs.map(b => s"kb=$b").toSet
    val touched = fs.listStatus(new Path(path))
      .filter(st => st.isDirectory && dirs(st.getPath.getName))
      .map(_.getPath.toString)
    if (touched.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else spark.read.schema(schema).option("basePath", path)
      .parquet(touched.toIndexedSeq: _*).filter(col("kb").isin(kbs: _*))
  }

  /** Months holding any of `keys` (bucket-pruned probe). */
  def monthsFor(keys: DataFrame): DataFrame = monthsFor(keys, prunedFor(keys))

  /** [[monthsFor]] over an already pruned read of `keys`' buckets. */
  private[store] def monthsFor(keys: DataFrame, pruned: DataFrame): DataFrame =
    pruned.join(keys, Seq("dedupe_key"), "left_semi")
      .select("date_month").distinct()

  /** Replace the entries of `keys` with `entries` (the post-merge
    * (dedupe_key, date_month) rows for those keys), rewriting only the
    * touched buckets (dynamic overwrite: every touched bucket appears
    * in the written frame because each batch key carries an entry).
    * `pruned` is [[prunedFor]]`(keys)`, read before any index write. */
  private[store] def refresh(keys: DataFrame, pruned: DataFrame,
      entries: DataFrame): Unit = {
    // materialize `kept` BEFORE the overwrite: the frame reads the same
    // parquet path the write then rewrites, and relying on deferred
    // commit-time deletes would break under task retry/speculation
    // re-reading a source file the commit already removed
    val kept = pruned
      .join(keys, Seq("dedupe_key"), "left_anti")
      .select("dedupe_key", "date_month")
      .localCheckpoint()
    write(kept.union(entries.select("dedupe_key", "date_month")), "dynamic")
  }
}
