package graft.jobs

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.{ExecutorService, Executors, TimeUnit}

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

import org.apache.spark.sql.SparkSession

import graft.ingest.ZipStaging

/** The reference's HTTP serving surface (app/main.py:13-35) as a real
  * network listener on the JDK's built-in `com.sun.net.httpserver` —
  * zero dependencies beyond the JVM, so the engine stays a pure Spark
  * library while a user replaying the reference's README workflow
  * (`curl -F file=@corpus.zip /ingest` → poll `/jobs/{id}`) gets the
  * same two verbs over the wire:
  *
  *  - `POST /ingest` — multipart/form-data zip upload (FastAPI
  *    `UploadFile` shape, app/main.py:14) or a raw `application/zip`
  *    body with an optional `X-Filename` header. Persists the upload,
  *    stages it ([[ZipStaging]]), inserts the QUEUED job row (one
  *    parquet file, no Spark job) and returns
  *    `{"job_id":…,"status":"QUEUED"}` IMMEDIATELY; the
  *    scan→parse→upsert phases run on a background worker — the same
  *    submit-then-async split as the reference's `t_start_job.delay`
  *    dispatch (app/main.py:29).
  *  - `GET /jobs/{id}` — the current job document, or
  *    `{"error":"not_found"}` (HTTP 200 either way, matching the
  *    reference MVP's no-exception handler, app/main.py:33-35). Served
  *    by [[JobTracker.lookup]]: a job this server created is answered
  *    from in-process state with no Spark job; the parquet job log is
  *    the durable record, read only for jobs from before a restart or
  *    from another process.
  *
  * Ingest jobs are serialized on a single worker thread: the store
  * upsert is a batch read-merge-write, so concurrent jobs against one
  * store would race (the reference gets away with interleaving because
  * MongoDB upserts are per-document atomic; a batch-merge store must
  * serialize instead). The worker tags its Spark jobs with scheduler
  * pool `ingest` — the Spark analogue of the reference's Celery queue
  * routing (worker.py:15-16): with the shipped fair-scheduler config
  * deployed (`conf/fairscheduler.xml` + `spark.scheduler.mode=FAIR` +
  * `spark.scheduler.allocation.file`), ingest work is isolated from
  * interactive query pools with real weights/minShare.
  */
class HttpApi(spark: SparkSession, tracker: JobTracker,
    store: graft.store.DocStore, host: String = "127.0.0.1") {

  @volatile private var server: HttpServer = _
  private var httpExec: ExecutorService = _
  private var ingestExec: ExecutorService = _

  /** Bind and start; `port` 0 picks an ephemeral port. Returns the
    * bound port. */
  def start(port: Int = 0): Int = synchronized {
    require(server == null, "HttpApi already started")
    // small pool so GET /jobs polls are served while POST bodies are
    // being read; the Spark-side ingest work is NOT here (see below)
    httpExec = Executors.newFixedThreadPool(4)
    ingestExec = Executors.newSingleThreadExecutor { r =>
      val t = new Thread(r, "graft-ingest-worker")
      t.setDaemon(true)
      t
    }
    server = HttpServer.create(new InetSocketAddress(host, port), 0)
    server.createContext("/ingest", exchange(handleIngest))
    server.createContext("/jobs", exchange(handleJobStatus))
    server.setExecutor(httpExec)
    server.start()
    server.getAddress.getPort
  }

  /** Stop accepting requests; waits (bounded) for the in-flight ingest
    * job so a deliberate shutdown doesn't strand a job in PARSING.
    * Exchanges drain FIRST (stop(1) blocks up to 1 s for in-flight
    * handlers) so a POST that already inserted its QUEUED row gets to
    * submit to ingestExec before the executor shuts down; a straggler
    * that still loses the race is caught at the execute call and the
    * job is marked FAILED rather than stranded QUEUED forever. */
  def stop(drainSeconds: Int = 60): Unit = synchronized {
    if (server != null) {
      server.stop(1)
      httpExec.shutdown()
      ingestExec.shutdown()
      ingestExec.awaitTermination(drainSeconds.toLong, TimeUnit.SECONDS)
      server = null
    }
  }

  // ------------------------------------------------------------ handlers

  private def exchange(f: HttpExchange => (Int, String)): HttpHandler =
    new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        // once sendResponseHeaders has been attempted, a second call
        // (for the 500) would itself throw and hand the client a
        // truncated response with no error JSON — only send the error
        // response when headers were never attempted
        var headersSent = false
        try {
          val (code, body) = f(ex)
          val bytes = body.getBytes(StandardCharsets.UTF_8)
          ex.getResponseHeaders.set("Content-Type", "application/json")
          headersSent = true
          ex.sendResponseHeaders(code, bytes.length.toLong)
          ex.getResponseBody.write(bytes)
        } catch {
          case e: Exception if !headersSent =>
            val bytes = HttpApi.json(
              "error" -> "internal", "detail" -> String.valueOf(e.getMessage))
              .getBytes(StandardCharsets.UTF_8)
            ex.sendResponseHeaders(500, bytes.length.toLong)
            ex.getResponseBody.write(bytes)
          case e: Exception =>
            System.err.println(
              s"[http-api] response write failed after headers sent: $e")
        } finally ex.close()
      }
    }

  /** POST /ingest (ref: app/main.py:13-30). */
  private def handleIngest(ex: HttpExchange): (Int, String) = {
    if (ex.getRequestMethod != "POST")
      return (405, HttpApi.json("error" -> "method_not_allowed"))
    val contentType =
      Option(ex.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
    val body = ex.getRequestBody.readAllBytes()
    val upload: Either[String, (String, Array[Byte])] =
      if (contentType.startsWith("multipart/form-data"))
        HttpApi.firstFilePart(contentType, body)
      else if (body.nonEmpty)
        Right((Option(ex.getRequestHeaders.getFirst("X-Filename"))
          .getOrElse("upload.zip"), body))
      else Left("empty body")
    upload match {
      case Left(msg) => (400, HttpApi.json("error" -> "bad_request",
        "detail" -> msg))
      case Right((filename, bytes)) =>
        // persist upload → stage zip → insert QUEUED row (synchronous,
        // so the returned id is already pollable), then dispatch
        val tmp = graft.Fs.scratchTempFile("graft-upload-", "_" + filename
          .replaceAll("[^A-Za-z0-9._-]", "_"))
        try Files.write(tmp, bytes)
        catch { case e: Exception => graft.Fs.deleteTree(tmp); throw e }
        val staged: Path =
          try ZipStaging.stage(tmp.toString)
          catch {
            case e: Exception =>
              graft.Fs.deleteTree(tmp)
              return (400, HttpApi.json("error" -> "bad_archive",
                "detail" -> String.valueOf(e.getMessage)))
          }
        val jobId =
          try tracker.create(filename, staged.toString)
          catch {
            case e: Exception =>
              // no job row to hand the worker: the upload copies are
              // ours to drop (the 500 reply comes from `exchange`)
              ZipStaging.cleanup(staged)
              graft.Fs.deleteTree(tmp)
              throw e
          }
        // the FAILED write is itself a store write; if it throws the
        // job would strand in PARSING while looking in-flight — retry
        // once, then log the stranded state loudly so an operator can
        // reconcile (the job doc still carries its last real phase)
        def markFailed(cause: Throwable): Unit = {
          var wrote = false
          var attempt = 0
          while (!wrote && attempt < 2) {
            attempt += 1
            try { tracker.setStatus(jobId, "FAILED"); wrote = true }
            catch {
              case e2: Exception if attempt >= 2 =>
                System.err.println(s"[http-api] job $jobId failed ($cause) " +
                  s"AND the FAILED status write failed twice ($e2) — job " +
                  "may still read as in-flight; manual reconcile needed")
              case e1: Exception =>
                System.err.println(s"[http-api] job $jobId: FAILED status " +
                  s"write failed ($e1); retrying once")
            }
          }
        }
        val work: Runnable = { () =>
          spark.sparkContext.setLocalProperty("spark.scheduler.pool", "ingest")
          try JobTracker.runPhases(spark, tracker, store, jobId,
            staged.toString)
          catch {
            case e: Exception =>
              // the reference has no failure state; FAILED is our
              // honest extension (currentState ranks unknowns last, so
              // it still reads as terminal)
              markFailed(e)
              System.err.println(s"[http-api] job $jobId failed: $e")
          } finally {
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
            ZipStaging.cleanup(staged)
            graft.Fs.deleteTree(tmp)
            ()
          }
        }
        try ingestExec.execute(work)
        catch {
          case e: java.util.concurrent.RejectedExecutionException =>
            // server is stopping: the QUEUED row exists but no worker
            // will ever pick it up — terminal-mark it instead of
            // stranding it QUEUED forever
            markFailed(e)
            ZipStaging.cleanup(staged)
            graft.Fs.deleteTree(tmp)
            return (503, HttpApi.json("error" -> "shutting_down",
              "job_id" -> jobId, "status" -> "FAILED"))
        }
        (200, HttpApi.json("job_id" -> jobId, "status" -> "QUEUED"))
    }
  }

  /** GET /jobs/{id} (ref: app/main.py:33-35). */
  private def handleJobStatus(ex: HttpExchange): (Int, String) = {
    if (ex.getRequestMethod != "GET")
      return (405, HttpApi.json("error" -> "method_not_allowed"))
    val path = ex.getRequestURI.getPath
    val id = path.stripPrefix("/jobs").stripPrefix("/")
    if (id.isEmpty || id.contains("/"))
      return (404, HttpApi.json("error" -> "not_found"))
    tracker.lookup(id) match {
      case None => (200, HttpApi.json("error" -> "not_found"))
      case Some(doc) =>
        (200, HttpApi.json(
          "job_id" -> doc.jobId,
          "status" -> doc.status,
          "source" -> doc.source,
          "input_dir" -> doc.inputDir,
          "file_count" -> doc.fileCount,
          "updated_at" -> String.valueOf(doc.updatedAt)))
    }
  }
}

object HttpApi {

  /** Minimal JSON object writer (string/long values only — the full
    * surface this API emits). */
  private[jobs] def json(fields: (String, Any)*): String =
    fields.map { case (k, v) =>
      val value = v match {
        case n: Long => n.toString
        case n: Int => n.toString
        case s => "\"" + esc(String.valueOf(s)) + "\""
      }
      "\"" + esc(k) + "\":" + value
    }.mkString("{", ",", "}")

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** Minimal multipart/form-data parser for the single-file-upload
    * shape (FastAPI `File(...)`, app/main.py:14): returns the first
    * part that carries a `filename` in its Content-Disposition. Byte
    * operations throughout — the payload is a binary zip. */
  private[jobs] def firstFilePart(contentType: String,
      body: Array[Byte]): Either[String, (String, Array[Byte])] = {
    val boundary = contentType.split(';').map(_.trim)
      .collectFirst { case p if p.startsWith("boundary=") =>
        p.stripPrefix("boundary=").stripPrefix("\"").stripSuffix("\"") }
      .getOrElse(return Left("multipart body without boundary"))
    // RFC 2046: a delimiter only counts at a line start — match
    // "\r\n--boundary" (the body's first byte counts as an implicit
    // line start), never the bare bytes, which a binary zip payload
    // can legitimately contain mid-stream (matching those would
    // silently truncate the upload into a corrupt archive)
    val bare = ("--" + boundary).getBytes(StandardCharsets.ISO_8859_1)
    val delim = ("\r\n--" + boundary).getBytes(StandardCharsets.ISO_8859_1)
    val crlf2 = "\r\n\r\n".getBytes(StandardCharsets.ISO_8859_1)
    def startsWithBare(at: Int): Boolean =
      at + bare.length <= body.length &&
        bare.indices.forall(j => body(at + j) == bare(j))
    // partStart: index just past a line-start delimiter
    var partStart =
      if (startsWithBare(0)) bare.length
      else {
        val i = indexOf(body, delim, 0)
        if (i < 0) return Left("no multipart delimiter found")
        i + delim.length
      }
    while (partStart >= 0) {
      // terminal delimiter is "--boundary--"
      if (partStart + 1 < body.length &&
          body(partStart) == '-' && body(partStart + 1) == '-')
        return Left("no file part in multipart body")
      val headerEnd = indexOf(body, crlf2, partStart)
      if (headerEnd < 0) return Left("truncated multipart part")
      val headers = new String(body, partStart, headerEnd - partStart,
        StandardCharsets.ISO_8859_1)
      val contentStart = headerEnd + crlf2.length
      val next = indexOf(body, delim, contentStart)
      if (next < 0) return Left("unterminated multipart part")
      val filename = "(?i)filename=\"([^\"]*)\"".r
        .findFirstMatchIn(headers).map(_.group(1))
      filename match {
        case Some(name) =>
          // content ends exactly at the CRLF that opens the delimiter
          return Right((if (name.isEmpty) "upload.zip" else name,
            java.util.Arrays.copyOfRange(body, contentStart, next)))
        case None => partStart = next + delim.length
      }
    }
    Left("no multipart delimiter found")
  }

  private def indexOf(hay: Array[Byte], needle: Array[Byte],
      from: Int): Int = {
    var i = math.max(0, from)
    val last = hay.length - needle.length
    while (i <= last) {
      var j = 0
      while (j < needle.length && hay(i + j) == needle(j)) j += 1
      if (j == needle.length) return i
      i += 1
    }
    -1
  }
}
