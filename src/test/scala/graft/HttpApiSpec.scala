package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.{HttpApi, JobTracker}
import graft.store.PartitionedEmailStore

/** The reference's HTTP workflow (app/main.py:13-35) over a real
  * loopback socket: multipart zip upload → immediate QUEUED job id →
  * async ingest → pollable status → store contents. */
class HttpApiSpec extends AnyFunSuite with SparkSpec {

  private val client = HttpClient.newHttpClient()

  /** Spark jobs one upload's worker starts when it merges 6 files into
    * a non-empty partitioned store, as measured. */
  private val WorkerJobs = 11

  private def get(port: Int, path: String): String =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .GET().build(),
      HttpResponse.BodyHandlers.ofString()).body()

  private def field(body: String, key: String): Option[String] =
    ("\"" + key + "\":\"([^\"]*)\"").r.findFirstMatchIn(body).map(_.group(1))

  private def msg(id: String): Array[Byte] =
    (s"Message-ID: <$id@x>\r\nFrom: a@x.com\r\nTo: b@x.com\r\n" +
      s"Subject: $id\r\n\r\nbody $id").getBytes(StandardCharsets.UTF_8)

  private def buildZip(entries: (String, Array[Byte])*): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val zos = new java.util.zip.ZipOutputStream(bos)
    entries.foreach { case (name, bytes) =>
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(bytes)
      zos.closeEntry()
    }
    zos.close()
    bos.toByteArray
  }

  private def multipart(filename: String,
      zip: Array[Byte]): (String, Array[Byte]) = {
    val boundary = "graftBoundary42"
    val head = (s"--$boundary\r\nContent-Disposition: form-data; " +
      s"""name="file"; filename="$filename"\r\n""" +
      "Content-Type: application/zip\r\n\r\n")
      .getBytes(StandardCharsets.ISO_8859_1)
    val tail = s"\r\n--$boundary--\r\n".getBytes(StandardCharsets.ISO_8859_1)
    val body = new java.io.ByteArrayOutputStream()
    body.write(head); body.write(zip); body.write(tail)
    (s"multipart/form-data; boundary=$boundary", body.toByteArray)
  }

  private def awaitTerminal(port: Int, jobId: String): String = {
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    var status = "QUEUED"
    while (System.nanoTime() < deadline &&
        (status == "QUEUED" || status == "PARSING")) {
      Thread.sleep(100)
      status = field(get(port, s"/jobs/$jobId"), "status").getOrElse("QUEUED")
    }
    status
  }

  private def withApi(
      f: (HttpApi, Int, PartitionedEmailStore, JobTracker) => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-http")
    val tracker = new JobTracker(spark, dir.resolve("jobs").toString)
    val store = new PartitionedEmailStore(spark, dir.resolve("store").toString)
    val api = new HttpApi(spark, tracker, store)
    val port = api.start()
    try f(api, port, store, tracker)
    finally api.stop()
  }

  test("POST /ingest multipart → QUEUED now, PARSED after async phases") {
    withApi { (_, port, store, tracker) =>
      val zip = buildZip(
        "u1/inbox/1_" -> msg("h1"),
        "u1/sent/2_" -> msg("h2"),
        "u2/inbox/3_" -> msg("h3"))
      val (ctype, body) = multipart("corpus.zip", zip)
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/ingest"))
          .header("Content-Type", ctype)
          .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200, resp.body())
      // the endpoint answers before the phases run (async dispatch,
      // ref app/main.py:29-30) — status in the response is QUEUED
      assert(field(resp.body(), "status").contains("QUEUED"))
      val jobId = field(resp.body(), "job_id").get

      assert(awaitTerminal(port, jobId) == "PARSED")
      val doc = get(port, s"/jobs/$jobId")
      // job document fields (ref app/main.py:33-35 returns the row)
      assert(field(doc, "source").contains("corpus.zip"))
      assert("\"file_count\":3".r.findFirstIn(doc).isDefined, doc)
      assert(store.read().count() == 3)
      // upload staging dirs are cleaned after the job completes
      assert(field(doc, "input_dir").exists(d =>
        !Files.exists(java.nio.file.Paths.get(d))))
      val _ = tracker
    }
  }

  test("POST /ingest raw zip body with X-Filename; EMPTY short-circuit") {
    withApi { (_, port, _, _) =>
      // no depth-3 entries → scan is empty → EMPTY terminal state
      val zip = buildZip("readme.txt" -> "not a maildir".getBytes)
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/ingest"))
          .header("Content-Type", "application/zip")
          .header("X-Filename", "flat.zip")
          .POST(HttpRequest.BodyPublishers.ofByteArray(zip)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200, resp.body())
      val jobId = field(resp.body(), "job_id").get
      assert(awaitTerminal(port, jobId) == "EMPTY")
      assert(field(get(port, s"/jobs/$jobId"), "source").contains("flat.zip"))
    }
  }

  test("GET /jobs/{unknown} → not_found; bad uploads → 4xx") {
    withApi { (_, port, _, _) =>
      assert(field(get(port, "/jobs/nope"), "error").contains("not_found"))

      // malformed multipart (no file part)
      val (ctype, _) = multipart("x.zip", Array[Byte]())
      val junk = "--graftBoundary42\r\nContent-Disposition: form-data; " +
        "name=\"note\"\r\n\r\nhello\r\n--graftBoundary42--\r\n"
      val bad = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/ingest"))
          .header("Content-Type", ctype)
          .POST(HttpRequest.BodyPublishers.ofString(junk)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(bad.statusCode() == 400, bad.body())

      // body that is not a zip archive at all → bad_archive, no job row
      val notZip = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/ingest"))
          .header("Content-Type", "application/zip")
          .POST(HttpRequest.BodyPublishers.ofString("plainly not a zip"))
          .build(),
        HttpResponse.BodyHandlers.ofString())
      // ZipInputStream yields zero entries on garbage → stages an empty
      // dir → legitimate EMPTY job; both behaviors are acceptable MVP
      // outcomes, but the response must be well-formed either way
      assert(notZip.statusCode() == 200 || notZip.statusCode() == 400,
        notZip.body())

      // GET on /ingest is rejected
      val wrongVerb = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/ingest"))
          .GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(wrongVerb.statusCode() == 405)
    }
  }

  test("overlapping POSTs: second observed QUEUED while first in flight") {
    withApi { (_, port, store, _) =>
      def post(zip: Array[Byte], name: String): String = {
        val (ctype, body) = multipart(name, zip)
        val resp = client.send(
          HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/ingest"))
            .header("Content-Type", ctype)
            .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
          HttpResponse.BodyHandlers.ofString())
        field(resp.body(), "job_id").get
      }
      // a large-enough first batch that its phases are still running
      // when the second arrives
      val big = buildZip((0 until 150).map(i =>
        s"u1/inbox/${i}_" -> msg(s"big$i")): _*)
      val j1 = post(big, "big.zip")
      // second batch re-delivers big0 into another mailbox + one new key
      val j2 = post(buildZip("u3/inbox/1_" -> msg("big0"),
        "u3/inbox/2_" -> msg("solo")), "small.zip")
      // race-free serialization observation: status is monotonic, so if
      // j1 is non-terminal both before AND after the j2 read, the single
      // worker was busy with j1 at the moment j2 was observed — j2 must
      // still be QUEUED (a second PARSING would mean concurrent upserts
      // against the batch-merge store, exactly the race the worker
      // serialization exists to prevent)
      val terminal = Set("PARSED", "EMPTY", "FAILED")
      val j1Before = field(get(port, s"/jobs/$j1"), "status").get
      val s2 = field(get(port, s"/jobs/$j2"), "status").get
      val j1After = field(get(port, s"/jobs/$j1"), "status").get
      if (!terminal(j1Before) && !terminal(j1After))
        assert(s2 == "QUEUED", s"second job was $s2 while first was " +
          s"$j1Before→$j1After")
      assert(awaitTerminal(port, j1) == "PARSED")
      assert(awaitTerminal(port, j2) == "PARSED")
      // census = union of both batches: 150 big keys + 1 new key
      assert(store.read().count() == 151)
      import org.apache.spark.sql.functions.{col, size => asize}
      assert(store.read().filter(col("dedupe_key") === "<big0@x>")
        .select(asize(col("mailboxes"))).collect().head.getInt(0) == 2)
    }
  }

  test("corrupt zip member → 400 bad_archive over the wire, no job row") {
    withApi { (_, port, _, tracker) =>
      val good = buildZip("u1/inbox/1_" -> msg("c1"))
      // flip bytes inside the deflated entry data (local header is 30
      // bytes + the 11-char entry name): the inflater or the CRC check
      // throws during staging → handler answers 400 bad_archive
      val bad = good.clone()
      (45 until 55).foreach(i => bad(i) = (bad(i) ^ 0x5a).toByte)
      val (ctype, body) = multipart("corrupt.zip", bad)
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/ingest"))
          .header("Content-Type", ctype)
          .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 400, resp.body())
      assert(resp.body().contains("bad_archive"), resp.body())
      // rejected before tracker.create: no orphan QUEUED row
      assert(tracker.currentState().count() == 0)
    }
  }

  test("worker-phase failure → FAILED served over the wire") {
    // bespoke setup: the store root is a regular FILE, so the async
    // upsert throws mid-phases — the job must surface FAILED over HTTP
    // (not strand in PARSING), exercising the markFailed path
    val dir = Files.createTempDirectory("graft-http-fail")
    Files.write(dir.resolve("store"), "not a directory".getBytes)
    val tracker = new JobTracker(spark, dir.resolve("jobs").toString)
    val store = new PartitionedEmailStore(spark, dir.resolve("store").toString)
    val api = new HttpApi(spark, tracker, store)
    val port = api.start()
    try {
      val (ctype, body) = multipart("corpus.zip",
        buildZip("u1/inbox/1_" -> msg("f1")))
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/ingest"))
          .header("Content-Type", ctype)
          .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200, resp.body())
      val jobId = field(resp.body(), "job_id").get
      assert(awaitTerminal(port, jobId) == "FAILED")
    } finally api.stop()
  }

  test("control-plane restart: a new server serves jobs from disk state") {
    // the job log and store are on-disk state, not server memory — a
    // process restart (new HttpApi over the same tracker/store roots)
    // must keep serving completed jobs and accept new work that merges
    // into the same store (the reference's equivalent: FastAPI restarts
    // freely because Mongo holds the state, app/main.py:33-35)
    val dir = Files.createTempDirectory("graft-http-restart")
    val tracker = new JobTracker(spark, dir.resolve("jobs").toString)
    val store = new PartitionedEmailStore(spark, dir.resolve("store").toString)
    val api1 = new HttpApi(spark, tracker, store)
    val port1 = api1.start()
    val jobId =
      try {
        val (ctype, body) = multipart("gen1.zip",
          buildZip("u1/inbox/1_" -> msg("cp1")))
        val resp = client.send(
          HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port1/ingest"))
            .header("Content-Type", ctype)
            .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
          HttpResponse.BodyHandlers.ofString())
        val id = field(resp.body(), "job_id").get
        assert(awaitTerminal(port1, id) == "PARSED")
        id
      } finally api1.stop()
    // restart: fresh server + fresh tracker/store objects, same roots
    val tracker2 = new JobTracker(spark, dir.resolve("jobs").toString)
    val store2 = new PartitionedEmailStore(spark, dir.resolve("store").toString)
    val api2 = new HttpApi(spark, tracker2, store2)
    val port2 = api2.start()
    try {
      // the pre-restart job is still served, terminal, with its source
      val doc = get(port2, s"/jobs/$jobId")
      assert(field(doc, "status").contains("PARSED"), doc)
      assert(field(doc, "source").contains("gen1.zip"), doc)
      // new work merges into the SAME store (cp1 re-delivered →
      // mailbox union, cp2 new)
      val (ctype, body) = multipart("gen2.zip", buildZip(
        "u2/inbox/1_" -> msg("cp1"), "u2/inbox/2_" -> msg("cp2")))
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port2/ingest"))
          .header("Content-Type", ctype)
          .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      val id2 = field(resp.body(), "job_id").get
      assert(awaitTerminal(port2, id2) == "PARSED")
      assert(store2.read().count() == 2)
      import org.apache.spark.sql.functions.{col, size => asize}
      assert(store2.read().filter(col("dedupe_key") === "<cp1@x>")
        .select(asize(col("mailboxes"))).collect().head.getInt(0) == 2)
    } finally api2.stop()
  }

  test("two uploads serialize on the ingest worker; both stores correct") {
    withApi { (_, port, store, _) =>
      def post(zip: Array[Byte], name: String): String = {
        val (ctype, body) = multipart(name, zip)
        val resp = client.send(
          HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/ingest"))
            .header("Content-Type", ctype)
            .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
          HttpResponse.BodyHandlers.ofString())
        field(resp.body(), "job_id").get
      }
      // second batch re-delivers s1 into another mailbox: the serialized
      // worker must set-union, not clobber
      val j1 = post(buildZip("u1/inbox/1_" -> msg("s1")), "b1.zip")
      val j2 = post(buildZip("u2/inbox/1_" -> msg("s1"),
        "u2/inbox/2_" -> msg("s2")), "b2.zip")
      assert(awaitTerminal(port, j1) == "PARSED")
      assert(awaitTerminal(port, j2) == "PARSED")
      assert(store.read().count() == 2)
      import org.apache.spark.sql.functions.{col, size => asize}
      assert(store.read().filter(col("dedupe_key") === "<s1@x>")
        .select(asize(col("mailboxes"))).collect().head.getInt(0) == 2)
    }
  }

  test("POST /ingest with an unwritable job log → 500, nothing leaked") {
    // the tracker root is a regular FILE, so tracker.create throws after
    // the upload was copied and staged: the reply is the 500 error JSON
    // and both scratch copies are gone
    val dir = Files.createTempDirectory("graft-http-nolog")
    val jobsRoot = dir.resolve("jobs")
    Files.write(jobsRoot, "not a directory".getBytes)
    val tracker = new JobTracker(spark, jobsRoot.toString)
    val store = new PartitionedEmailStore(spark, dir.resolve("store").toString)
    val scratch = java.nio.file.Paths.get(
      Sessions.scratchDir.getOrElse(System.getProperty("java.io.tmpdir")))
    def uploadCopies(): Set[String] = {
      val s = Files.list(scratch)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("graft-zip-stage") ||
          n.startsWith("graft-upload-")).toSet
      finally s.close()
    }
    val before = uploadCopies()
    val api = new HttpApi(spark, tracker, store)
    val port = api.start()
    try {
      val (ctype, body) = multipart("corpus.zip",
        buildZip("u1/inbox/1_" -> msg("n1")))
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/ingest"))
          .header("Content-Type", ctype)
          .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 500, resp.body())
      assert(field(resp.body(), "error").contains("internal"), resp.body())
      assert(field(resp.body(), "job_id").isEmpty, resp.body())
    } finally api.stop()
    // no job row: the log root is still the file it was
    assert(new String(Files.readAllBytes(jobsRoot)) == "not a directory")
    assert((uploadCopies() -- before).isEmpty)
  }

  /** The Spark jobs started while `body` runs, as (job group, scheduler
    * pool) pairs. */
  private def poolsDuring(body: => Unit): Seq[(String, String)] =
    jobsDuring(body).map(p => (p.getProperty("spark.jobGroup.id"),
      p.getProperty("spark.scheduler.pool")))

  test("polls of a job this server created run no Spark job") {
    withApi { (_, port, _, _) =>
      val (ctype, body) = multipart("poll.zip",
        buildZip("u1/inbox/1_" -> msg("q1")))
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/ingest"))
          .header("Content-Type", ctype)
          .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      val jobId = field(resp.body(), "job_id").get
      assert(awaitTerminal(port, jobId) == "PARSED")

      val window = poolsDuring {
        (1 to 20).foreach { _ =>
          assert(field(get(port, s"/jobs/$jobId"), "status").contains("PARSED"))
        }
      }
      assert(window.isEmpty, s"polls started Spark jobs: $window")
    }
  }

  test("an upload's POST starts no Spark job, its worker a bounded number") {
    val dir = Files.createTempDirectory("graft-http-jobs")
    val tracker = new JobTracker(spark, dir.resolve("jobs").toString)
    val store = new PartitionedEmailStore(spark, dir.resolve("store").toString)
    val api = new HttpApi(spark, tracker, store)
    val port = api.start()
    def upload(name: String, ids: Seq[String]): String = {
      val (ctype, body) = multipart(name, buildZip(ids.zipWithIndex.map {
        case (id, i) => s"u${i % 2}/inbox/${i}_" -> msg(id)
      }: _*))
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/ingest"))
          .header("Content-Type", ctype)
          .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      field(resp.body(), "job_id").get
    }
    try {
      // the first upload builds the store; the measured one merges into it
      assert(awaitTerminal(port, upload("a.zip", (0 until 6).map(i => s"w$i")))
        == "PARSED")
      var jobId = ""
      val window = poolsDuring {
        jobId = upload("b.zip", (3 until 9).map(i => s"w$i"))
        marker("posted")
        assert(awaitTerminal(port, jobId) == "PARSED")
      }
      val handler = window.takeWhile(_._1 != "posted")
        .filterNot(_._2 == "ingest")
      assert(handler.isEmpty, s"the POST handler started Spark jobs: $handler")
      val worker = window.count(_._2 == "ingest")
      assert(worker > 0 && worker <= WorkerJobs, s"worker jobs: $worker")
      assert(store.read().count() == 9)
    } finally api.stop()
  }
}
