package graft.jobs

import java.io.IOException
import java.sql.Timestamp
import java.time.Instant
import java.time.temporal.ChronoUnit
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ingest.EmailIngest
import graft.store.EmailStore

/** Job control-plane (SURVEY.md §1.3/§2.7 D6): the reference's `jobs`
  * collection (app/main.py:22-28) with its state machine
  * QUEUED → PARSING → PARSED, terminal EMPTY
  * (app/orchestrator.py:16,54,58-60), re-expressed as an append-only
  * parquet event log. Current state = latest event per job via a
  * row_number view — point updates become immutable appends, which is
  * the shape that scales (no read-modify-write races, natural audit
  * trail). An append is one single-row parquet file written with
  * parquet-mr on the calling thread and renamed into place, not a
  * Spark job; the log stays a parquet dir Spark reads.
  *
  * The log is the durable record; polls are served from in-process
  * state. Every event this tracker appends is folded, after its append
  * has committed, into a write-through map of job id → [[JobDoc]] with
  * exactly [[currentState]]'s rules, so [[lookup]] answers a live job
  * without planning or running a Spark job (the reference's Mongo point
  * read, app/main.py:33-35). Ids this tracker did not create — a
  * restarted server, a log written by another process — fall back to
  * the log view.
  */
class JobTracker(spark: SparkSession, root: String) {
  import JobTracker._

  private val conf = spark.sparkContext.hadoopConfiguration
  private val fs = new Path(root).getFileSystem(conf)

  private val live = new ConcurrentHashMap[String, Folded]()

  /** Event time, in micros: the precision the log stores, so a folded
    * doc's `updated_at` equals the one read back from parquet. */
  protected def now(): Timestamp =
    Timestamp.from(Instant.now().truncatedTo(ChronoUnit.MICROS))

  /** Write one event as its own single-row parquet file, on the calling
    * thread: under a `_`-prefixed name, which Spark's file listing
    * skips, then renamed to a unique `part-<uuid>.parquet`. Each append
    * touches only its own two names, so concurrent appends (HTTP
    * threads creating jobs while the ingest worker sets statuses)
    * cannot collide, and a failed append leaves at most a hidden temp
    * file. */
  private def append(jobId: String, status: String, source: String,
      inputDir: String, fileCount: Long): Event = {
    val ev = Event(now(), status, source, inputDir, fileCount)
    val row = new SimpleGroupFactory(parquetSchema).newGroup()
    Seq("job_id" -> jobId, "status" -> status, "source" -> source,
      "input_dir" -> inputDir).foreach { case (k, v) =>
        if (v != null) row.append(k, v)
      }
    val at = ev.ts.toInstant
    row.append("event_ts", at.getEpochSecond * 1000000L + at.getNano / 1000)
    row.append("file_count", fileCount)
    val name = s"part-${UUID.randomUUID()}.parquet"
    val tmp = new Path(root, "_" + name)
    try {
      val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(tmp, conf))
        .withConf(conf).withType(parquetSchema).build()
      try w.write(row) finally w.close()
      if (!fs.rename(tmp, new Path(root, name)))
        throw new IOException(s"job event rename failed: $tmp")
    } catch {
      case e: Exception => fs.delete(tmp, false); throw e
    }
    ev
  }

  /** Insert a job row with status QUEUED (ref: app/main.py:21-28). */
  def create(source: String, inputDir: String): String = {
    val jobId = UUID.randomUUID().toString
    val ev = append(jobId, "QUEUED", source, inputDir, -1L)
    live.put(jobId, Folded(ev, ev, ev.fileCount))
    jobId
  }

  /** Point status update (ref: app/orchestrator.py:16,54,58-60). An id
    * this tracker did not create stays out of the map: its earlier
    * events are only in the log, which [[lookup]] then reads. */
  def setStatus(jobId: String, status: String, fileCount: Long = -1L): Unit = {
    val ev = append(jobId, status, "", "", fileCount)
    live.computeIfPresent(jobId, (_, f) => f + ev)
    ()
  }

  /** Full event log, read with its fixed schema (no inference job). */
  def events(): DataFrame =
    if (!fs.exists(new Path(root)))
      spark.createDataFrame(java.util.Collections.emptyList[Row](), eventSchema)
    else spark.read.schema(eventSchema).parquet(root)

  /** Latest-state view: one row per job (S8's read path). `source` and
    * `input_dir` come from the first event, status/file_count from the
    * last. */
  def currentState(): DataFrame = {
    val byJob = Window.partitionBy("job_id")
    // tie-break equal timestamps by STATE-MACHINE rank, not status
    // text: alphabetically QUEUED > PARSING > PARSED, so a lexical
    // tie-break would report a job that started parsing as QUEUED
    // (and the asc window would pick a non-create event's empty
    // source/input_dir). Terminal states outrank PARSING outranks
    // QUEUED; unknown statuses sort last defensively.
    val stateRank = expr(stateRanks
      .map { case (s, r) => s"WHEN '$s' THEN $r" }
      .mkString("CASE status ", " ", s" ELSE $unknownRank END"))
    val desc = byJob.orderBy(col("event_ts").desc, stateRank.desc)
    val asc = byJob.orderBy(col("event_ts").asc, stateRank.asc)
    events()
      .withColumn("rn", row_number().over(desc))
      .withColumn("first_source", first("source").over(asc))
      .withColumn("first_input_dir", first("input_dir").over(asc))
      .withColumn("max_file_count", max("file_count").over(byJob))
      .filter(col("rn") === 1)
      .select(col("job_id"), col("status"),
        col("first_source").as("source"),
        col("first_input_dir").as("input_dir"),
        col("max_file_count").as("file_count"),
        col("event_ts").as("updated_at"))
  }

  /** Q7: the current job document (ref: app/main.py:33-35) — from the
    * in-process map for jobs this tracker created, else from the log. */
  def lookup(jobId: String): Option[JobDoc] =
    Option(live.get(jobId)).map(_.doc(jobId)).orElse(
      currentState().filter(col("job_id") === jobId).collect().headOption
        .map(r => JobDoc(r.getString(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4), r.getTimestamp(5))))

  /** Job status point read. */
  def status(jobId: String): Option[String] = lookup(jobId).map(_.status)
}

/** One job's current document, as [[JobTracker.currentState]] reports it. */
final case class JobDoc(jobId: String, status: String, source: String,
    inputDir: String, fileCount: Long, updatedAt: Timestamp)

object JobTracker {

  private val eventSchema = StructType.fromDDL("job_id STRING, " +
    "event_ts TIMESTAMP, status STRING, source STRING, input_dir STRING, " +
    "file_count BIGINT")

  /** [[eventSchema]] as parquet types; `event_ts` is UTC-adjusted
    * micros, which Spark reads as TIMESTAMP next to the INT96 values of
    * logs its own writer appended. */
  private val parquetSchema = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional binary job_id (STRING);
      |  optional int64 event_ts (TIMESTAMP(MICROS,true));
      |  optional binary status (STRING);
      |  optional binary source (STRING);
      |  optional binary input_dir (STRING);
      |  optional int64 file_count;
      |}""".stripMargin)

  /** State-machine rank of a status, the tie-break at equal timestamps. */
  private val stateRanks =
    Seq("QUEUED" -> 0, "PARSING" -> 1, "PARSED" -> 2, "EMPTY" -> 2)
  private val unknownRank = 3

  private def rank(status: String): Int =
    stateRanks.collectFirst { case (`status`, r) => r }.getOrElse(unknownRank)

  private final case class Event(ts: Timestamp, status: String,
      source: String, inputDir: String, fileCount: Long) {
    def before(o: Event): Boolean = {
      val c = ts.compareTo(o.ts)
      c < 0 || (c == 0 && rank(status) < rank(o.status))
    }
  }

  /** The fold of one job's events: `first` and `last` by
    * (event_ts, state rank), the max file_count. */
  private final case class Folded(first: Event, last: Event, fileCount: Long) {
    def +(e: Event): Folded = Folded(if (e.before(first)) e else first,
      if (last.before(e)) e else last, math.max(fileCount, e.fileCount))
    def doc(jobId: String): JobDoc = JobDoc(jobId, last.status, first.source,
      first.inputDir, fileCount, last.ts)
  }

  /** E1/E3 lifecycle end-to-end (SURVEY.md §3): create job → scan →
    * EMPTY short-circuit | PARSING(file_count) → parse+merge into the
    * store → PARSED. Returns the job id. */
  def runIngestJob(spark: SparkSession, tracker: JobTracker,
      store: graft.store.DocStore, inputDir: String,
      source: String = "manual_trigger"): String = {
    val jobId = tracker.create(source, inputDir)
    runPhases(spark, tracker, store, jobId, inputDir)
    jobId
  }

  /** The post-create phases of the lifecycle, runnable on their own so
    * an async front end ([[HttpApi]]) can return the QUEUED job id
    * first and dispatch this afterwards — the split the reference makes
    * between its endpoint insert (app/main.py:22-28) and the Celery
    * task body (app/orchestrator.py:14-60). */
  def runPhases(spark: SparkSession, tracker: JobTracker,
      store: graft.store.DocStore, jobId: String, inputDir: String): Unit = {
    // not cached: a binaryFile count reads no file content, the parse
    // reads each file once, and no copy of the raw bytes stays pinned
    // for the whole job
    val scanned = EmailIngest.scan(spark, inputDir)
    val n = scanned.count()
    if (n == 0) {
      tracker.setStatus(jobId, "EMPTY")
    } else {
      tracker.setStatus(jobId, "PARSING", fileCount = n)
      val docs = EmailIngest.docs(spark, EmailIngest.parse(spark, scanned))
      store.upsert(docs)
      tracker.setStatus(jobId, "PARSED", fileCount = n)
    }
  }
}
