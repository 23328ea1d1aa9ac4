package graft.store

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.IOUtils

import org.apache.spark.network.util.JavaUtils

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
  *
  * B follows the index's contents: the smallest power of two that keeps
  * a bucket within the session's advisory partition size, the size the
  * write's REBALANCE hint packs files to. A fixed B would leave a small
  * index as B near-empty files, each touched one rewritten as its own
  * task and commit per upsert; here a small index is one bucket of one
  * file. A (re)build starts at one bucket, and any write that leaves
  * the index larger than B × advisory re-buckets it with a full rebuild
  * at the B its size asks for. B never shrinks. The validity marker
  * records B. The size counted is the bytes on disk, fixed per-file
  * overhead included, so an advisory size below that overhead (about
  * 1 KB for a small file) would re-bucket on every refresh.
  */
class KeyIndex(spark: SparkSession, val path: String) {
  import KeyIndex._

  private def kb(c: Column, buckets: Int): Column =
    pmod(hash(c), lit(buckets))

  private val schema =
    StructType.fromDDL("dedupe_key STRING, date_month STRING, kb INT")

  private val fs =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Validity marker, dropped before any mutation and re-created only
    * after a successful commit. Partition-overwrite commits are not
    * atomic (deletes happen file-by-file inside commitJob), so a crash
    * mid-refresh must leave the index LOOKING absent — the store then
    * falls back to [[rebuild]] instead of trusting a half-rewritten
    * bucket and silently missing a month that holds a batch key. Its
    * content is `buckets=<B>`. */
  private val okMarker = new Path(path, "_GRAFT_INDEX_OK")

  /** B as the marker records it. No marker, or one without a bucket
    * count (an index written with the fixed 64 buckets), reads as no
    * valid index: the store's bootstrap rebuild then re-buckets it. */
  private def markedBuckets: Option[Int] = {
    val text =
      try {
        val in = fs.open(okMarker)
        try new String(IOUtils.readFullyToByteArray(in), UTF_8)
        finally in.close()
      } catch { case _: FileNotFoundException => "" }
    text.trim match {
      case MarkerText(b) => Some(b.toInt)
      case _ => None
    }
  }

  def exists: Boolean = markedBuckets.isDefined

  /** The bucket count B of a valid index. */
  def numBuckets: Int = markedBuckets.getOrElse(
    throw new IllegalStateException(s"no valid key index at $path"))

  /** Drop the validity marker WITHOUT touching index data — called by
    * the store before it mutates store partitions. The index only
    * becomes stale once the store changes, so the unsafe window is
    * store-write → refresh-commit, not just refresh itself: a crash
    * between those must leave the index distrusted (→ bootstrap
    * rebuild), or a later upsert probes months from the pre-crash
    * index, misses the month already holding a batch key, and writes a
    * duplicate dedupe_key. */
  def invalidate(): Unit = { fs.delete(okMarker, false); () }

  private def write(entries: DataFrame, overwriteMode: String,
      buckets: Int): Unit = {
    fs.delete(okMarker, false)
    entries
      .select(col("dedupe_key"), col("date_month"),
        kb(col("dedupe_key"), buckets).as("kb"))
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
    val out = fs.create(okMarker, true)
    try out.write(s"buckets=$buckets".getBytes(UTF_8)) finally out.close()
  }

  /** Re-bucket with a full rebuild when the index just written with
    * `buckets` holds more than `buckets` advisory-sized buckets. */
  private def rebucketIfOutgrown(buckets: Int): Unit = {
    val advisory = JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    val bytes = dataBytes()
    var want = buckets
    while (want < MaxBuckets && bytes > want.toLong * advisory) want *= 2
    if (want > buckets) {
      // materialize BEFORE the static overwrite deletes the files this
      // frame reads (the `kept` hazard in refresh)
      val all = spark.read.schema(schema).parquet(path)
        .select("dedupe_key", "date_month").localCheckpoint()
      write(all, "static", want)
    }
  }

  /** Bytes of the index's data files, from driver listings of the root
    * and its `kb=` dirs. (`listFiles` would build a located status per
    * file, and on the local file system each one forks `ls` to read the
    * file's permissions.) */
  private def dataBytes(): Long =
    fs.listStatus(new Path(path)).filter(_.isDirectory)
      .flatMap(d => fs.listStatus(d.getPath))
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum

  /** Full (re)build from (dedupe_key, date_month) rows — bootstrap for
    * stores created before the index existed, or whose index is torn
    * or carries no bucket count. */
  def rebuild(entries: DataFrame): Unit = {
    write(entries, "static", 1)
    rebucketIfOutgrown(1)
  }

  /** The index restricted to `keys`' buckets — a planning-time-pruned
    * read (`PartitionFilters: [kb IN ...]`), never a full-index scan.
    * The collected bucket-id list is bounded by B (one bucket needs no
    * collect). One driver-side listing of the index root picks the
    * touched `kb=` dirs that exist, read with the fixed schema: listing
    * the whole root (above `parallelPartitionDiscovery.threshold` dirs)
    * would start a parallel-listing job, and schema inference one
    * more. */
  private[store] def prunedFor(keys: DataFrame): Pruned = {
    val buckets = numBuckets
    val kbs =
      if (buckets == 1) Seq(0)
      else keys.select(kb(col("dedupe_key"), buckets)).distinct()
        .collect().map(_.getInt(0)).toSeq
    val dirs = kbs.map(b => s"kb=$b").toSet
    val touched = fs.listStatus(new Path(path))
      .filter(st => st.isDirectory && dirs(st.getPath.getName))
      .map(_.getPath.toString)
    Pruned(buckets,
      if (touched.isEmpty)
        spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      else spark.read.schema(schema).option("basePath", path)
        .parquet(touched.toIndexedSeq: _*).filter(col("kb").isin(kbs: _*)))
  }

  /** Months holding any of `keys` (bucket-pruned probe). */
  def monthsFor(keys: DataFrame): DataFrame =
    monthsFor(keys, prunedFor(keys).rows)

  /** [[monthsFor]] over an already pruned read of `keys`' buckets. */
  private[store] def monthsFor(keys: DataFrame, pruned: DataFrame): DataFrame =
    pruned.join(keys, Seq("dedupe_key"), "left_semi")
      .select("date_month").distinct()

  /** Replace the entries of `keys` with `entries` (the post-merge
    * (dedupe_key, date_month) rows for those keys), rewriting only the
    * touched buckets (dynamic overwrite: every touched bucket appears
    * in the written frame because each batch key carries an entry),
    * then re-bucket if the index outgrew B. `pruned` is
    * [[prunedFor]]`(keys)`, read before any index write. */
  private[store] def refresh(keys: DataFrame, pruned: Pruned,
      entries: DataFrame): Unit = {
    // materialize `kept` BEFORE the overwrite: the frame reads the same
    // parquet path the write then rewrites, and relying on deferred
    // commit-time deletes would break under task retry/speculation
    // re-reading a source file the commit already removed
    val kept = pruned.rows
      .join(keys, Seq("dedupe_key"), "left_anti")
      .select("dedupe_key", "date_month")
      .localCheckpoint()
    write(kept.union(entries.select("dedupe_key", "date_month")), "dynamic",
      pruned.buckets)
    rebucketIfOutgrown(pruned.buckets)
  }
}

object KeyIndex {

  /** [[KeyIndex.prunedFor]]'s read of a batch's buckets, with the B it
    * was bucketed by: a refresh writes with that B even though the
    * store drops the marker in between. */
  private[store] final case class Pruned(buckets: Int, rows: DataFrame)

  private val MarkerText = "buckets=([1-9][0-9]*)".r

  /** 2^30 buckets of the default 64 MB advisory size is 64 PB of index. */
  private val MaxBuckets = 1 << 30
}
