package graft.store

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.EmailDoc

/** Month-partitioned email store with partition-scoped upsert — the
  * 100 TB write path.
  *
  * The snapshot [[EmailStore]] re-reads and rewrites the full store per
  * batch, which is correct but O(store) per upsert. Here rows live
  * under `date_month=yyyy-MM/` (nulls under `date_month=unknown`,
  * layout per [[Partitioning]]) and an upsert rewrites ONLY the
  * affected months via dynamic partition overwrite; untouched months'
  * files are never rewritten (spec-asserted). This mirrors the
  * reference's upsert contract — only matched documents change
  * (parsing_agent.py:67-86) — at partition granularity.
  *
  * Affected months = months carried by the batch ∪ months already
  * holding any of the batch's dedupe_keys. The second set is answered
  * by a hash-bucketed (dedupe_key → date_month) [[KeyIndex]] kept at
  * `<root>_keyidx`: the probe reads only the batch's bucket dirs
  * (planning-time partition pruning), never the store — the secondary
  * index that makes global key uniqueness affordable when the store is
  * 100 TB and a batch touches a handful of months. The index is
  * maintained incrementally (touched buckets only) after each upsert,
  * and bootstrap-built from a one-time 2-column store scan for stores
  * that predate it.
  */
class PartitionedEmailStore(spark: SparkSession, root: String)
    extends DocStore {

  /** Bucket-pruned key→month probe; sibling path so store reads never
    * pick up index files. */
  private[graft] val index = new KeyIndex(spark, root + "_keyidx")

  private val monthCol =
    coalesce(date_format(col("date"), "yyyy-MM"), lit("unknown"))

  private val fs = new Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  def isEmpty: Boolean =
    !fs.exists(new Path(root)) || fs.listStatus(new Path(root)).isEmpty

  /** Full store (store schema + the `date_month` partition column,
    * kept so month predicates prune at planning time). */
  def read(): DataFrame = spark.read.parquet(root)

  /** The stored rows of `months`, without the partition column. One
    * driver listing of the root picks the month dirs that exist, read
    * with the fixed store schema: [[read]] would infer the schema with a
    * job of its own. */
  private def readMonths(months: Seq[String]): DataFrame = {
    val dirs = months.map(m => s"date_month=$m").toSet
    val present = fs.listStatus(new Path(root))
      .filter(st => st.isDirectory && dirs(st.getPath.getName))
      .map(_.getPath.toString)
    if (present.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](),
        EmailDoc.schema)
    else spark.read.schema(EmailDoc.schema).parquet(present.toIndexedSeq: _*)
  }

  /** Month-pruned date-range scan (Q4 read path). */
  def readDateRange(from: java.sql.Timestamp,
      until: java.sql.Timestamp): DataFrame =
    Partitioning.readDateRange(spark, root, from, until)

  /** Upsert a batch (store schema + `path` column) rewriting only the
    * affected `date_month` partitions. */
  def upsert(batch: DataFrame): Unit = {
    val compact = EmailStore.mergeBatch(batch).cache()
    try {
      if (isEmpty) {
        write(clusterByMonth(compact))
        // the just-written store's (dedupe_key, date_month) projection
        // IS the batch's own: rebuild the index from the cached batch
        // instead of re-listing and re-scanning the store we just wrote
        // (round-17: one fewer store read per bootstrap upsert; monthCol
        // is the same deterministic expression write() stamps)
        index.rebuild(compact.select(col("dedupe_key"),
          monthCol.as("date_month")))
      } else {
        val batchKeys = compact.select("dedupe_key").cache()
        try {
          // one-time bootstrap for stores created before the index
          if (!index.exists)
            index.rebuild(read().select(col("dedupe_key"), col("date_month")))
          // the batch's kb dirs, read once for both the month probe and
          // the refresh below: the store write in between never touches
          // index files
          val pruned = index.prunedFor(batchKeys)
          // months already holding any batch key: bucket-pruned index
          // probe — reads the batch's kb dirs, not the store
          val keyMonths = index.monthsFor(batchKeys, pruned.rows)
          // months the batch itself lands in
          val batchMonths = compact.select(monthCol.as("date_month")).distinct()
          val affected = keyMonths.union(batchMonths).distinct()
            .collect().map(_.getString(0))
          val existing = readMonths(affected.toSeq)
          // materialize BEFORE the overwrite: `merged` lazily reads the
          // same parquet path write() then rewrites, and a speculative/
          // retried task re-reading an affected-month file after the
          // commit deleted it would drop or duplicate store rows (the
          // KeyIndex.refresh hazard, applied to the store itself)
          val merged = clusterByMonth(EmailStore.merge(existing,
            compact.withColumn("path", lit("")))).localCheckpoint()
          // distrust the index across the store mutation: a crash
          // between write(merged) and index.refresh must leave
          // exists=false (bootstrap rebuild) rather than a trusted
          // index missing the batch's months
          index.invalidate()
          write(merged)
          // refresh the batch keys' index entries from what is now on
          // disk (merge may keep an existing row's month, not the
          // batch's). What is on disk for the affected months IS the
          // checkpointed `merged` frame the overwrite just committed —
          // project it instead of re-listing and re-scanning the store
          // (round-17: one fewer store read per upsert; the stamped
          // date_month string round-trips the partition column exactly)
          val entries = merged
            .join(batchKeys, Seq("dedupe_key"), "left_semi")
            .select("dedupe_key", "date_month")
          index.refresh(batchKeys, pruned, entries)
        } finally { batchKeys.unpersist(); () }
      }
    } finally { compact.unpersist(); () }
  }

  /** REHEARSAL fragmenter — rewrite every month into ~`groups` files.
    * Since upserts cluster their writes by month (see
    * [[clusterByMonth]]), a store maintained by THIS engine no longer
    * fragments from a single rewrite; real fragmentation accumulates
    * from many small batches over time (streaming ingest cadences,
    * concurrent writers), which a fixture-scale rehearsal cannot
    * afford to replay batch-by-batch. em73's compaction rehearsal and
    * its specs call this to plant that accumulated state explicitly —
    * content-invariant (same rows, same months, more files), so the
    * oracle hash is untouched. */
  def fragment(groups: Int): Unit = {
    if (isEmpty) return
    // explicit partition count: AQE coalesces a count-less repartition
    // right back into few tasks — the opposite of what a fragmentation
    // fixture needs
    val frag = read()
      .repartition(4 * groups,
        expr(s"pmod(xxhash64(dedupe_key), $groups)"), col("date_month"))
      // materialize BEFORE the overwrite deletes the source files
      // (the same speculative-reread hazard as upsert's merge)
      .localCheckpoint()
    write(frag)
  }

  /** Data-file count per month partition — a driver-side metadata walk
    * (never touches row data), the assertion surface for the
    * compaction contract. */
  def fileCensus(): Map[String, Int] =
    if (isEmpty) Map.empty
    else fs.listStatus(new Path(root))
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("date_month="))
      .map(p => p.getPath.getName.stripPrefix("date_month=") ->
        fs.listStatus(p.getPath).count(f =>
          f.isFile && f.getPath.getName.endsWith(".parquet")))
      .toMap

  /** Per-month compaction report row: how many data files the month
    * held before the rewrite and the file-count budget it was packed
    * toward (`want` = ceil(bytes/targetBytes)). */
  case class CompactionPlan(month: String, filesBefore: Int, want: Int)

  /** SMALL-FILES compaction — the maintenance pass every incremental
    * store needs at 100 TB: each upsert/streaming batch writes its
    * affected months with one file per write task, so a month touched
    * by many small batches accumulates files whose per-file size
    * shreds scan throughput (row-group overhead, footer reads, task
    * scheduling per tiny split). This rewrites ONLY months whose file
    * count exceeds their byte-budgeted target (`ceil(bytes /
    * targetBytes)`), packing rows into `want` hash-groups per month;
    * untouched months' files are never rewritten (dynamic overwrite,
    * same contract as [[upsert]]).
    *
    * Content-INVARIANT by construction — same rows, same months, fewer
    * files — which is exactly what the em73 oracle checks (census
    * parity through a compacted store). Scale shape: the planning walk
    * is driver-side FILE METADATA only (O(#partitions + #files), never
    * rows), and data moves only for the months actually compacted.
    * The [[KeyIndex]] is left untouched: compaction never changes a
    * (dedupe_key → month) fact, and a crash mid-rewrite can only
    * strand stale-EXTRA index entries (keys whose rows were lost with
    * the partial month), which are safe — the index over-approximates
    * affected months; missing entries would be the unsafe direction
    * and compaction cannot create those.
    *
    * Returns the per-month plan it executed (empty = nothing to do),
    * so callers/specs can assert the file-count contract without
    * re-listing. */
  def compact(targetBytes: Long = 128L << 20): Seq[CompactionPlan] = {
    if (isEmpty) return Seq.empty
    val plan = fs.listStatus(new Path(root))
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("date_month="))
      .flatMap { p =>
        val files = fs.listStatus(p.getPath)
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        val want = math.max(1L, math.ceil(
          files.map(_.getLen).sum.toDouble / targetBytes).toLong).toInt
        if (files.length > want)
          Some(CompactionPlan(
            p.getPath.getName.stripPrefix("date_month="),
            files.length, want))
        else None
      }.toSeq
    if (plan.nonEmpty) {
      import spark.implicits._
      val wants = plan.map(p => (p.month, p.want))
        .toDF("date_month", "want")
      val packed = read()
        .join(broadcast(wants), Seq("date_month"))
        .withColumn("fg", pmod(xxhash64(col("dedupe_key")), col("want")))
        .repartition(col("date_month"), col("fg"))
        .drop("want", "fg")
        // materialize BEFORE the overwrite deletes the source files
        // (the same speculative-reread hazard as upsert's merge)
        .localCheckpoint()
      write(packed.drop("date_month"))
    }
    plan
  }

  /** RETENTION / TTL enforcement — drop every month partition strictly
    * older than `cutoffMonth` ("yyyy-MM"; lexicographic order IS
    * chronological for this format). A retention pass is the reason a
    * store partitions by its age key in the first place: expiry
    * becomes a PARTITION-METADATA operation — the dropped months'
    * directories are deleted whole, O(#dropped partitions) driver-side
    * file ops, no row ever read, scanned, or rewritten, and retained
    * months' files are untouched (byte-identical, same contract as
    * upsert/compact for unaffected partitions).
    *
    * The `unknown` partition (null dates) is always RETAINED: a row
    * whose age is unknowable must not be silently destroyed — the D5
    * quarantine philosophy applied to deletion; an operator expires it
    * explicitly or repairs the date first.
    *
    * The [[KeyIndex]] is deliberately left in place: entries for
    * expired keys now point at months that hold nothing, which is the
    * SAFE direction (the index over-approximates affected months —
    * same argument as [[compact]]'s crash story; missing entries would
    * be unsafe and retention cannot create those), and the entries
    * self-heal — the next upsert carrying such a key probes the empty
    * month, finds no existing row, writes the fresh one, and
    * `index.refresh` rewrites the entry from what is then on disk.
    *
    * Returns the dropped month names (sorted) so callers/specs can
    * assert the expiry contract without re-listing. */
  def retain(cutoffMonth: String): Seq[String] = {
    if (isEmpty) return Seq.empty
    val dropped = fs.listStatus(new Path(root))
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("date_month="))
      .map(_.getPath)
      .filter { p =>
        val m = p.getName.stripPrefix("date_month=")
        m != "unknown" && m < cutoffMonth
      }
    dropped.foreach { p => fs.delete(p, true); () }
    dropped.map(_.getName.stripPrefix("date_month=")).sorted.toSeq
  }

  /** Cluster an upsert batch by its month before the partitioned
    * write: without this every write task holds a slice of EVERY
    * affected month and emits one file per (task, month) — #shuffle
    * partitions × #months near-empty parquet files per upsert, whose
    * footer/commit overhead dominates the write at any scale and whose
    * tiny row groups shred later scans (the small-files rule). The
    * AQE REBALANCE hint packs months to the advisory partition size —
    * merging small months into shared tasks AND splitting a month
    * larger than one task should hold — so file count tracks data
    * volume, not task count. Content-invariant: same rows, same month
    * partitions, fewer files. [[compact]] keeps its own explicit
    * (month, file-group) packing and does NOT route through this. */
  private def clusterByMonth(df: DataFrame): DataFrame =
    df.withColumn("date_month", monthCol)
      .hint("rebalance", col("date_month"))

  /** Dynamic partition overwrite: only partitions present in `df` are
    * replaced; everything else is left byte-identical on disk. */
  private def write(df: DataFrame): Unit = {
    // re-stamp date_month from `date` unconditionally (round-16
    // ADVICE): for the upsert paths this is a deterministic no-op
    // (clusterByMonth stamped the same expression, and the rebalance
    // hint below the projection is unaffected); for any future caller
    // carrying a stale or differently-typed date_month it prevents
    // rows silently landing in wrong partitions
    df.withColumn("date_month", monthCol)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("date_month")
      .parquet(root)
  }
}
