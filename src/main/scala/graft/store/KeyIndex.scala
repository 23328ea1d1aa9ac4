package graft.store

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.io.IOUtils

import org.apache.spark.network.util.JavaUtils

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

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
  * index that is itself only 2 columns of the store.
  *
  * Maintenance is APPEND-ONLY: an upsert appends one entry per key new
  * to the store (one small file per touched bucket) and never rewrites
  * the entry of a stored key, because the merge keeps the stored row
  * and with it the key's month. That holds only while every entry
  * names a month that holds its key, so [[dropMonths]] removes the
  * entries of the months retention deletes, and store rewrites run
  * with the index distrusted ([[distrustDuring]]). A bucket whose
  * appends leave more than [[KeyIndex.MaxBucketFiles]] files is
  * rewritten as one, so the file count stays bounded without an
  * option.
  *
  * B follows the index's contents: the smallest power of two that keeps
  * a bucket within the session's advisory partition size, the size the
  * write's REBALANCE hint packs files to. A fixed B would leave a small
  * index as B near-empty files; here a small index is one bucket. A
  * (re)build starts at one bucket, and any write that leaves the index
  * larger than B × advisory re-buckets it with a full rebuild at the B
  * its size asks for. B never shrinks. The validity marker records B.
  * The size counted is the bytes on disk, fixed per-file overhead
  * included, so an advisory size below that overhead (about 1 KB for a
  * small file) would re-bucket on every write.
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
    * mid-write must leave the index LOOKING absent — the store then
    * falls back to [[rebuild]] instead of trusting a half-written
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

  private def mark(buckets: Int): Unit = {
    val out = fs.create(okMarker, true)
    try out.write(s"buckets=$buckets".getBytes(UTF_8)) finally out.close()
  }

  def exists: Boolean = markedBuckets.isDefined

  /** The bucket count B of a valid index. */
  def numBuckets: Int = markedBuckets.getOrElse(
    throw new IllegalStateException(s"no valid key index at $path"))

  /** Drop the validity marker WITHOUT touching index data — called by
    * the store before it mutates store partitions. The index only
    * becomes stale once the store changes, so the unsafe window is
    * store-write → index-commit, not just the index write itself: a
    * crash between those must leave the index distrusted (→ bootstrap
    * rebuild), or a later upsert probes months from the pre-crash
    * index, misses the month already holding a batch key, and writes a
    * duplicate dedupe_key. */
  def invalidate(): Unit = { fs.delete(okMarker, false); () }

  /** Run `mutate`, a store rewrite that moves no key to another month
    * (compaction, fragmentation), with the index distrusted: a crash
    * inside it can lose a month's rows, and an entry naming a month
    * that no longer holds its key is unsafe for an append-only index,
    * so it must leave no valid index (the next upsert rebuilds from
    * what the store then holds). Success restores the marker. */
  private[store] def distrustDuring(mutate: => Unit): Unit = {
    val buckets = markedBuckets
    invalidate()
    mutate
    buckets.foreach(mark)
  }

  /** Write `entries` bucketed by `buckets`, with `mode` "append" or the
    * partition overwrite mode ("static" | "dynamic") of an overwrite. */
  private def write(entries: DataFrame, mode: String, buckets: Int): Unit = {
    fs.delete(okMarker, false)
    val w = entries
      .select(col("dedupe_key"), col("date_month"),
        kb(col("dedupe_key"), buckets).as("kb"))
      // cluster by bucket before the partitioned write: otherwise every
      // task emits a sliver into every touched kb dir — #tasks × #buckets
      // near-empty files per write, pure footer/commit overhead (the
      // small-files rule). REBALANCE packs buckets to the advisory
      // size, so a 2-column index writes ~one file per touched bucket.
      .hint("rebalance", col("kb"))
      .write
    (if (mode == "append") w.mode("append")
     else w.mode("overwrite").option("partitionOverwriteMode", mode))
      .partitionBy("kb")
      .parquet(path)
    mark(buckets)
  }

  /** Rewrite `rows` of the index with `mode` and `buckets`. They are
    * materialized BEFORE the overwrite deletes the files they read: a
    * retried or speculative task re-reading a file the commit already
    * removed would drop entries. */
  private def rewrite(rows: DataFrame, mode: String, buckets: Int): Unit =
    write(rows.select("dedupe_key", "date_month").localCheckpoint(), mode,
      buckets)

  /** The entries under `dirs` (`kb=` dirs of this index), read with the
    * fixed schema; no dir → an empty local frame. */
  private def readDirs(dirs: Seq[String]): DataFrame =
    if (dirs.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else spark.read.schema(schema).option("basePath", path)
      .parquet(dirs: _*)

  /** The data files of each `kb=` dir, from driver listings of the root
    * and its `kb=` dirs. (`listFiles` would build a located status per
    * file, and on the local file system each one forks `ls` to read the
    * file's permissions.) */
  private def bucketFiles(): Map[String, Seq[FileStatus]] =
    fs.listStatus(new Path(path))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("kb="))
      .map(d => d.getPath.toString -> fs.listStatus(d.getPath).toSeq
        .filter(_.getPath.getName.endsWith(".parquet")))
      .toMap

  /** After a write with `buckets`: if the index holds more than
    * `buckets` advisory-sized buckets, re-bucket it with a full rebuild;
    * otherwise rewrite every bucket that holds more than
    * [[KeyIndex.MaxBucketFiles]] files. */
  private def settle(buckets: Int): Unit = {
    val advisory = JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    val files = bucketFiles()
    val bytes = files.values.flatten.map(_.getLen).sum
    var want = buckets
    while (want < MaxBuckets && bytes > want.toLong * advisory) want *= 2
    if (want > buckets) rewrite(readDirs(files.keys.toSeq), "static", want)
    else {
      val crowded = files.collect {
        case (dir, fl) if fl.length > MaxBucketFiles => dir
      }.toSeq
      if (crowded.nonEmpty) rewrite(readDirs(crowded), "dynamic", buckets)
    }
  }

  /** Full (re)build from (dedupe_key, date_month) rows — bootstrap for
    * stores created before the index existed, or whose index is torn
    * or carries no bucket count. */
  def rebuild(entries: DataFrame): Unit = {
    write(entries, "static", 1)
    settle(1)
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
    Pruned(buckets, readDirs(touched.toIndexedSeq)
      .filter(col("kb").isin(kbs: _*)))
  }

  /** Months holding any of `keys` (bucket-pruned probe). */
  def monthsFor(keys: DataFrame): DataFrame =
    prunedFor(keys).rows.join(keys, Seq("dedupe_key"), "left_semi")
      .select("date_month").distinct()

  /** Append `entries`, the (dedupe_key, date_month) rows of keys the
    * index does not hold yet, bucketed by the B `buckets` the caller's
    * [[prunedFor]] read (the store drops the marker before its write),
    * then re-bucket or rewrite crowded buckets as [[settle]] finds. */
  private[store] def append(entries: DataFrame, buckets: Int): Unit = {
    write(entries, "append", buckets)
    settle(buckets)
  }

  /** Run `deleteMonths`, the store's removal of `months`, with the index
    * distrusted, then drop the entries naming those months: an entry
    * naming a month that no longer holds its key would make a later
    * upsert of that key skip appending its new month. Without a valid
    * index only `deleteMonths` runs; the next upsert rebuilds. */
  private[store] def dropMonths(months: Seq[String])(
      deleteMonths: => Unit): Unit = {
    val buckets = markedBuckets
    invalidate()
    deleteMonths
    buckets.foreach { b =>
      rewrite(readDirs(bucketFiles().keys.toSeq)
        .filter(!col("date_month").isin(months: _*)), "static", b)
    }
  }
}

object KeyIndex {

  /** [[KeyIndex.prunedFor]]'s read of a batch's buckets, with the B it
    * was bucketed by: an append writes with that B even though the
    * store drops the marker in between. */
  private[store] final case class Pruned(buckets: Int, rows: DataFrame)

  private val MarkerText = "buckets=([1-9][0-9]*)".r

  /** 2^30 buckets of the default 64 MB advisory size is 64 PB of index. */
  private val MaxBuckets = 1 << 30

  /** Files a bucket may hold before it is rewritten as one. Each upsert
    * that brings new keys appends about one file per touched bucket, so
    * a bucket is rewritten about once per this many such upserts; a
    * small index file carries about 1 KB of footer and checksum. */
  private[graft] val MaxBucketFiles = 8
}
