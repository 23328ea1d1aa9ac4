package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The email store's upsert-merge rules.
  *
  * Re-expresses the reference's Mongo upsert contract (SURVEY.md §2.4):
  *  - A1 unique-key dedup: at most one row per `dedupe_key`
  *    (ref: unique index ingest_enron.py:146 + upsert filter :188-195)
  *  - A2 `$setOnInsert` first-writer-wins: all non-mailbox fields are
  *    frozen at first insert (ref: ingest_enron.py:191); "first" is made
  *    deterministic by ordering on (precedence, path), mirroring the
  *    reference's sorted walk (ingest_enron.py:165-175)
  *  - A3 `$addToSet` set-union: `mailboxes` accumulates distinct entries
  *    across all duplicates (ref: ingest_enron.py:192)
  *
  * Scale design: the merge is ONE hash aggregation on `dedupe_key`
  * (`min_by` for the frozen image + `collect_list`/`flatten`/
  * `array_distinct` for the set-union) — partial aggregation runs
  * map-side, the only shuffle is on the dedup key, and there is no
  * window sort. [[PartitionedEmailStore]] persists the result: it
  * applies the same merge per `date_month` partition and rewrites only
  * affected months via dynamic partition overwrite.
  */
object EmailStore {

  private val mergeOrderCols = Seq("__precedence", "path")

  /** Merge rows (one per physical file, store schema + `path` +
    * `__precedence` columns) into one row per dedupe_key. */
  private def mergeRows(rows: DataFrame): DataFrame = {
    val dataCols = rows.columns.toIndexedSeq
      .filterNot(c => mergeOrderCols.contains(c))
      .filterNot(_ == "mailboxes").filterNot(_ == "dedupe_key")
    rows
      .groupBy("dedupe_key")
      .agg(
        min_by(
          struct(dataCols.map(col): _*),
          struct(mergeOrderCols.map(col): _*)).as("__doc"),
        array_distinct(flatten(collect_list(col("mailboxes"))))
          .as("mailboxes"))
      .select(col("dedupe_key") +: dataCols.map(c => col(s"__doc.$c"))
        :+ col("mailboxes"): _*)
  }

  /** A1–A3 within one batch. `batch` must carry a `path` column (the
    * deterministic tiebreak) plus the store schema. */
  def mergeBatch(batch: DataFrame): DataFrame =
    mergeRows(batch.withColumn("__precedence", lit(1)))
      .drop("path")

  /** Cross-run merge: existing store rows win over the incoming batch
    * (first-writer-wins across runs = idempotent re-ingest, D7). */
  def merge(existing: DataFrame, batch: DataFrame): DataFrame = {
    val existingRows = existing
      .withColumn("__precedence", lit(0))
      .withColumn("path", lit("")) // store rows predate any batch path
    val batchRows = batch.withColumn("__precedence", lit(1))
    mergeRows(existingRows.unionByName(batchRows)).drop("path")
  }

  /** Engine invariant check: uniqueness of dedupe_key (ref: unique index
    * ingest_enron.py:146). Returns offending keys (must be empty). */
  def duplicateKeys(store: DataFrame): DataFrame =
    store.groupBy("dedupe_key").count().filter(col("count") > 1)
}

/** What the job pipeline (JobTracker/HttpApi/streamIngest) needs of a
  * store. [[PartitionedEmailStore]] is the one backend; a wrapper (a
  * counting or tracing store in a test or benchmark) plugs into the
  * same lifecycle through this. */
trait DocStore {
  def upsert(batch: DataFrame): Unit
  def read(): DataFrame
  def isEmpty: Boolean
}
