package graft.store

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.EmailDoc

/** Month-partitioned email store with partition-scoped upsert — the
  * engine's one store backend.
  *
  * A whole-store read-merge-write would be O(store) per upsert. Here
  * rows live under `date_month=yyyy-MM/` (nulls under
  * `date_month=unknown`, layout per [[Partitioning]]) and an upsert
  * rewrites ONLY the affected months via dynamic partition overwrite;
  * untouched months' files are never rewritten (spec-asserted), and
  * rows merge by [[EmailStore]]'s rules. This mirrors the
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
  * append-only: an upsert adds the entries of the keys that were new
  * to the store, since a stored key keeps its month; retention drops
  * the entries of the months it deletes. It is bootstrap-built from a
  * one-time 2-column store scan for stores that predate it.
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

  /** The month partition dirs of a non-empty store, by month: one
    * driver listing of the root. */
  private def monthDirs(): Seq[(String, Path)] =
    fs.listStatus(new Path(root)).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("date_month="))
      .map(st => st.getPath.getName.stripPrefix("date_month=") -> st.getPath)

  /** The stored rows of `months`, without the partition column. The
    * month dirs that exist are read with the fixed store schema:
    * [[read]] would infer the schema with a job of its own. */
  private def readMonths(months: Seq[String]): DataFrame = {
    val present = monthDirs().collect {
      case (m, p) if months.contains(m) => p.toString }
    if (present.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](),
        EmailDoc.schema)
    else spark.read.schema(EmailDoc.schema).parquet(present: _*)
  }

  /** Month-pruned date-range scan (Q4 read path). */
  def readDateRange(from: java.sql.Timestamp,
      until: java.sql.Timestamp): DataFrame =
    Partitioning.readDateRange(spark, root, from, until)

  /** Upsert a batch (store schema + `path` column) rewriting only the
    * affected `date_month` partitions, in four Spark executions once the
    * store holds rows: materialize the batch, probe the key index,
    * write the merged months, append the new keys' index entries. (An
    * index of more than one bucket adds the collect of the batch's
    * bucket ids, see [[KeyIndex.prunedFor]].)
    *
    *  1. The batch is merged within itself (one row per key), stamped
    *     with its month and checkpointed: every later step reads it, so
    *     the input is read and parsed once.
    *  2. One probe joins the batch's (key, month) to the index entries
    *     of its buckets (key, stored month) and collects the distinct
    *     months of both columns: the affected months. None means an
    *     empty batch (a null date stamps `unknown`), and nothing is
    *     written.
    *  3. The affected months are read, merged with the batch (the
    *     stored row wins) and written over themselves straight from the
    *     plan: the dynamic overwrite deletes the old files only at job
    *     commit, and nothing reads them after that.
    *  4. The probe rows with no stored month are the keys new to the
    *     store; their entries are appended to the index. A matched key
    *     kept its stored row, hence its month and its entry.
    *
    * The index is invalidated before the store write and re-marked by
    * the append, so a crash in between leaves it distrusted and the
    * next upsert rebuilds it. */
  def upsert(batch: DataFrame): Unit = {
    val compact = EmailStore.mergeBatch(batch)
      .withColumn("date_month", monthCol).localCheckpoint()
    if (isEmpty) {
      // the just-written store's (dedupe_key, date_month) projection
      // IS the batch's own: build the index from the checkpointed batch
      // instead of re-listing and re-scanning the store just written
      if (!compact.isEmpty) {
        write(clusterByMonth(compact))
        index.rebuild(compact.select("dedupe_key", "date_month"))
      }
      return
    }
    // one-time bootstrap for stores created before the index
    if (!index.exists)
      index.rebuild(read().select(col("dedupe_key"), col("date_month")))
    val pruned = index.prunedFor(compact)
    val probe = compact.select("dedupe_key", "date_month")
      .join(pruned.rows.select(col("dedupe_key"),
        col("date_month").as("stored_month")), Seq("dedupe_key"), "left")
    val affected = probe
      .select(explode(array(col("date_month"), col("stored_month"))).as("m"))
      .where(col("m").isNotNull).distinct()
      .collect().map(_.getString(0))
    if (affected.isEmpty) return
    val merged = EmailStore.merge(readMonths(affected.toSeq),
      compact.drop("date_month").withColumn("path", lit("")))
    // distrust the index across the store mutation: a crash between
    // the store write and the append must leave exists=false
    // (bootstrap rebuild) rather than a trusted index missing the
    // batch's new keys
    index.invalidate()
    write(clusterByMonth(merged))
    // the probe re-reads the same index files: the store write never
    // touches them, and the append adds files without deleting any
    index.append(probe.where(col("stored_month").isNull)
      .select("dedupe_key", "date_month"), pruned.buckets)
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
      .localCheckpoint()
    index.distrustDuring(write(frag))
  }

  /** Data-file count per month partition — a driver-side metadata walk
    * (never touches row data), the assertion surface for the
    * compaction contract. */
  def fileCensus(): Map[String, Int] =
    if (isEmpty) Map.empty
    else monthDirs().map { case (m, p) =>
      m -> fs.listStatus(p).count(f =>
        f.isFile && f.getPath.getName.endsWith(".parquet"))
    }.toMap

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
    * The [[KeyIndex]] data is left untouched: compaction never changes
    * a (dedupe_key → month) fact. The index is distrusted during the
    * rewrite, though: a crash mid-commit can lose a month's rows, and
    * an entry naming a month that no longer holds its key would stop
    * the append-only index from recording the key's next month. So a
    * crash leaves the index to be rebuilt from the store.
    *
    * Returns the per-month plan it executed (empty = nothing to do),
    * so callers/specs can assert the file-count contract without
    * re-listing. */
  def compact(targetBytes: Long = 128L << 20): Seq[CompactionPlan] = {
    if (isEmpty) return Seq.empty
    val plan = monthDirs().flatMap { case (m, p) =>
      val files = fs.listStatus(p)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      val want = math.max(1L, math.ceil(
        files.map(_.getLen).sum.toDouble / targetBytes).toLong).toInt
      if (files.length > want) Some(CompactionPlan(m, files.length, want))
      else None
    }
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
        .localCheckpoint()
      index.distrustDuring(write(packed.drop("date_month")))
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
    * The [[KeyIndex]] entries of the dropped months go with them: the
    * index is append-only and appends an entry only for a key it does
    * not hold, so an entry left pointing at an expired month would keep
    * a re-delivered key's new month out of the index, and the key's
    * next delivery in a third month would be stored twice. Dropping the
    * entries rewrites the 2-column index once (a full-index read, no
    * store row read); the index is distrusted from before the first
    * month delete until that rewrite commits, so a crash in between
    * leaves it to be rebuilt from the store.
    *
    * Returns the dropped month names (sorted) so callers/specs can
    * assert the expiry contract without re-listing. */
  def retain(cutoffMonth: String): Seq[String] = {
    if (isEmpty) return Seq.empty
    val dropped = monthDirs()
      .filter { case (m, _) => m != "unknown" && m < cutoffMonth }
    val months = dropped.map(_._1).sorted
    if (months.nonEmpty)
      index.dropMonths(months)(dropped.foreach { case (_, p) =>
        fs.delete(p, true); () })
    months
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
