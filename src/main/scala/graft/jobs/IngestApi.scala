package graft.jobs

import org.apache.spark.sql.SparkSession

import graft.ingest.ZipStaging
import graft.store.EmailStore

/** The reference's HTTP ingest/job API composed end to end, minus the
  * HTTP transport (app/main.py:13-35): upload an archive → get a job
  * id → poll its status. One call chains ZipStaging → JobTracker
  * lifecycle (QUEUED → PARSING → PARSED | EMPTY) → store upsert, so a
  * library user has the same two-verb surface the reference's FastAPI
  * app exposes. */
class IngestApi(spark: SparkSession, tracker: JobTracker, store: graft.store.DocStore) {

  /** POST /ingest analogue: stage the zip into a temp maildir, run the
    * full ingest job against it, clean the staging dir; returns the job
    * id (ref: upload handling app/main.py:14-20, task dispatch :21-28,
    * staging app/orchestrator.py:67-74). */
  def submitArchive(zipPath: String, source: String = "zip_upload"): String = {
    val staged = ZipStaging.stage(zipPath)
    try JobTracker.runIngestJob(spark, tracker, store, staged.toString, source)
    finally ZipStaging.cleanup(staged)
  }

  /** GET /jobs/{id} analogue (ref: app/main.py:33-35), served by
    * [[JobTracker.lookup]]. */
  def pollJob(jobId: String): Option[String] = tracker.status(jobId)
}
