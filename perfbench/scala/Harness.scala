package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.Timestamp
import java.util.zip.ZipInputStream

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Sessions
import graft.codec.Rfc822Parser
import graft.graph.{EmailGraph, GraphOps}
import graft.ingest.{EmailIngest, ZipStaging}
import graft.jobs.{HttpApi, JobTracker}
import graft.query.EmailQueries
import graft.streaming.StreamingOps

/** The benchmark's JVM side: runs one workload against the program's
  * public entry points over inputs the Python side generated into the
  * work dir, and records raw observations (timings and the answers the
  * program gave) for the Python side to check and summarise.
  *
  * Usage: Harness <workload> <workDir> <seconds> <trace 0|1> <cores>
  *          <pollMs> <streamRate>
  */
object Harness {

  final case class Opts(workload: String, work: Path, seconds: Double,
      trace: Boolean, cores: Int, pollMs: Int, rate: Double)

  def main(args: Array[String]): Unit = {
    val o = Opts(args(0), Paths.get(args(1)), args(2).toDouble,
      args(3) == "1", args(4).toInt, args(5).toInt, args(6).toDouble)
    val obs = new Obs
    val jvmStart = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime
    obs.emit("setup", "part" -> "jvm_boot_s",
      "s" -> (System.currentTimeMillis() - jvmStart) / 1e3,
      "cpu_s" -> cpuNs() / 1e9)
    val t0 = System.nanoTime()
    val c0 = cpuNs()
    val spark = Sessions.local(o.cores.toString)
    obs.emit("setup", "part" -> "session_s", "s" -> secs(t0),
      "cpu_s" -> cpuSecs(c0))
    // the program's scratch root (Sessions pins java.io.tmpdir to it)
    val scratch = Paths.get(System.getProperty("java.io.tmpdir"))
    val scratchBefore = entries(scratch)
    val tracer = new Tracer(spark, obs, o.trace)
    var ok = false
    try {
      tracer.install()
      o.workload match {
        case "ingest_serve" => ingestServe(spark, o, obs, tracer)
        case "graph_analytics" => graphAnalytics(spark, o, obs, tracer)
        case "stream_ingest" => streamIngest(spark, o, obs, tracer)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      tracer.finish()
      ok = true
    } finally {
      spark.streams.active.foreach(_.stop())
      obs.emit("end", "ok" -> ok, "peak_rss_mb" -> vmHwmMb())
      spark.stop()
      // whatever the run left in the program's scratch root
      val leaked = entries(scratch) -- scratchBefore
      obs.emit("scratch", "before" -> scratchBefore.size,
        "leaked" -> leaked.size)
      leaked.foreach(p => graft.Fs.deleteTree(scratch.resolve(p)))
      obs.writeTo(o.work.resolve("obs.jsonl"))
    }
  }

  // ------------------------------------------------------------ helpers

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM so far (all threads), in ns. Unlike wall
    * time it does not count time the host took the CPU away. */
  def cpuNs(): Long = os.getProcessCpuTime

  def cpuSecs(c0: Long): Double = (cpuNs() - c0) / 1e9

  def entries(dir: Path): Set[String] =
    if (!Files.isDirectory(dir)) Set.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString).toSet
      finally s.close()
    }

  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)

  def tsv(path: Path): Seq[Array[String]] =
    if (!Files.exists(path)) Seq.empty
    else Files.readAllLines(path).asScala.toSeq
      .filter(_.nonEmpty).map(_.split("\t", -1))

  /** Build the workload's store from the generated base maildir the way
    * an ingest job would (scan, parse, upsert), then merge the warm-up
    * batch into it with `warm`, so the loop's first upsert is not the
    * first one into a non-empty store, and make untimed reads of each
    * shape. This is the set-up timed as setup_s (with session
    * start and input generation). */
  def baseStore(spark: SparkSession, o: Opts, obs: Obs, tracer: Tracer)(
      warm: ProbedStore => Unit): ProbedStore = {
    val store = new ProbedStore(spark, o.work.resolve("store").toString,
      tracer, obs)
    val t0 = System.nanoTime()
    val c0 = cpuNs()
    tracer.span("setup", "base_store", "setup") {
      store.upsert(scanDocs(spark, o.work.resolve("base").toString))
      warm(store)
      warmReads(store)
    }
    obs.emit("setup", "part" -> "base_store_s", "s" -> secs(t0),
      "cpu_s" -> cpuSecs(c0))
    store
  }

  /** Two untimed reads of each shape, so the loop's first reads do not
    * pay for compiling their plans. */
  def warmReads(store: ProbedStore): Unit =
    for (_ <- 1 to 2) {
      val all = store.read()
      EmailQueries.byKey(all, "<warm-up>").collect()
      EmailQueries.byMailbox(all, "warm", "up").collect()
      EmailQueries.bySender(all, "warm@up").collect()
      EmailQueries.byRecipient(all, "warm@up").collect()
      store.inner.readDateRange(Timestamp.valueOf("2023-01-01 00:00:00"),
        Timestamp.valueOf("2023-01-02 00:00:00")).collect()
    }

  def scanDocs(spark: SparkSession, dir: String): DataFrame =
    EmailIngest.docs(spark, EmailIngest.parse(spark, EmailIngest.scan(spark, dir)))

  def warmDirect(spark: SparkSession, o: Opts)(store: ProbedStore): Unit =
    store.upsert(scanDocs(spark, o.work.resolve("warm").toString))

  def storeBytes(store: ProbedStore): Long =
    Tracer.bytesUnder(Paths.get(store.root)) +
      Tracer.bytesUnder(Paths.get(store.root + "_keyidx"))

  // -------------------------------------------------------------- reads

  /** One read: a lookup (`key`) or a listing (`mailbox`, `sender`,
    * `recipient`, `range`), collected in full. In instrumented traced
    * cycles the physical plan is forced first, so planning and
    * execution are timed apart and the scan metrics can be read. */
  def read(store: ProbedStore, r: Array[String], cycle: Int, obs: Obs,
      tracer: Tracer): Unit = {
    val (kind, a, b) = (r(1), r(2), r(3))
    val df: DataFrame = kind match {
      case "key" => EmailQueries.byKey(store.read(), a)
      case "mailbox" => EmailQueries.byMailbox(store.read(), a, b)
      case "sender" => EmailQueries.bySender(store.read(), a)
      case "recipient" => EmailQueries.byRecipient(store.read(), a)
      case "range" => store.inner.readDateRange(
        Timestamp.valueOf(a), Timestamp.valueOf(b))
    }
    val spanKind = if (kind == "key") "lookup" else "listing"
    val split = tracer.instrument
    val t0 = System.nanoTime()
    val c0 = cpuNs()
    val (planS, rows) = tracer.span(spanKind, kind, s"cycle-$cycle") {
      val planS = if (split) {
        df.queryExecution.executedPlan; secs(t0)
      } else 0.0
      (planS, df.collect())
    }
    val total = secs(t0)
    val cpu = cpuSecs(c0)
    val answer: Seq[(String, Any)] =
      if (kind == "key") Seq(
        "subject" -> rows.headOption.map(_.getAs[String]("subject")),
        "mailboxes" -> rows.headOption.toSeq.flatMap(
          _.getAs[scala.collection.Seq[Row]]("mailboxes").map(m =>
            Seq(m.getString(0), m.getString(1), m.getString(2)).mkString("/"))))
      else Seq.empty
    val scan: Seq[(String, Any)] =
      if (!split) Seq.empty
      else {
        val (files, scanned) = Tracer.scanStats(df.queryExecution.executedPlan)
        Seq("plan_s" -> planS, "exec_s" -> (total - planS),
          "scan_files" -> files, "scan_rows" -> scanned)
      }
    obs.emit("read", (Seq("kind" -> kind, "cycle" -> cycle, "a" -> a,
      "b" -> b, "s" -> total, "cpu_s" -> cpu, "rows" -> rows.length) ++
      answer ++ scan): _*)
  }

  /** The read burst after a workload's loop; a traced run instruments
    * every other read. */
  def readBurst(store: ProbedStore, o: Opts, obs: Obs,
      tracer: Tracer): Unit = {
    tsv(o.work.resolve("reads.tsv")).zipWithIndex.foreach { case (r, i) =>
      tracer.instrument = o.trace && i % 2 == 1
      read(store, r, -1, obs, tracer)
    }
    tracer.instrument = false
  }

  // --------------------------------------------------- ingest_serve

  /** One client on one HTTP/1.1 connection: POST a zip to /ingest,
    * then poll GET /jobs/{id} every `pollMs` until the job ends. */
  final class Client(port: Int, pollMs: Int, tracer: Tracer) {
    private val http = HttpClient.newBuilder()
      .version(HttpClient.Version.HTTP_1_1).build()
    private val done = Set("PARSED", "EMPTY", "FAILED")

    private def field(json: String, k: String): String =
      s""""$k":"([^"]*)"""".r.findFirstMatchIn(json).map(_.group(1))
        .getOrElse("")

    private def send(req: HttpRequest): String =
      http.send(req, HttpResponse.BodyHandlers.ofString()).body()

    private def uri(path: String) = URI.create(s"http://127.0.0.1:$port$path")

    /** Returns (job id, status, POST seconds, polls, seconds polling). */
    def upload(body: Array[Byte], name: String,
        req: String): (String, String, Double, Int, Double) = {
      val t0 = System.nanoTime()
      val reply = tracer.span("post", "post", req) {
        send(HttpRequest.newBuilder(uri("/ingest"))
          .header("Content-Type", "application/zip")
          .header("X-Filename", name)
          .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build())
      }
      val postS = secs(t0)
      val id = field(reply, "job_id")
      var status = field(reply, "status")
      var polls = 0
      var pollS = 0.0
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (id.nonEmpty && !done(status) && System.nanoTime() < deadline) {
        Thread.sleep(pollMs.toLong)
        val p0 = System.nanoTime()
        status = field(tracer.span("poll", "poll", req) {
          send(HttpRequest.newBuilder(uri(s"/jobs/$id")).GET().build())
        }, "status")
        pollS += secs(p0)
        polls += 1
      }
      (id, status, postS, polls, pollS)
    }
  }

  /** Start `HttpApi` over `store` with a job log at `jobs`, run `body`
    * with a client, and stop the server whatever happens. */
  def serving[T](spark: SparkSession, store: ProbedStore, jobs: Path,
      o: Opts, tracer: Tracer)(body: (JobTracker, Client) => T): T = {
    val tracker = new JobTracker(spark, jobs.toString)
    val api = new HttpApi(spark, tracker, store)
    val port = api.start(0)
    try body(tracker, new Client(port, o.pollMs, tracer))
    finally api.stop()
  }

  def ingestServe(spark: SparkSession, o: Opts, obs: Obs,
      tracer: Tracer): Unit = {
    // the warm-up batch goes through an upload, so the whole job path
    // is warm before the loop
    val warmZip = Files.readAllBytes(o.work.resolve("warm.zip"))
    val store = baseStore(spark, o, obs, tracer) { s =>
      serving(spark, s, o.work.resolve("setup_jobs"), o, tracer) {
        (_, client) =>
          val status = client.upload(warmZip, "warm.zip", "setup")._2
          require(status == "PARSED", s"warm-up upload ended $status")
      }
    }
    val reads = tsv(o.work.resolve("reads.tsv")).groupBy(_(0).toInt)
    val uploads = Files.list(o.work.resolve("uploads")).iterator().asScala
      .toSeq.sortBy(_.getFileName.toString)
    val cycles = serving(spark, store, o.work.resolve("jobs"), o, tracer) {
      (tracker, client) =>
        val end = System.nanoTime() + (o.seconds * 1e9).toLong
        // a traced run alternates instrumentation, so it needs two cycles
        val minCycles = if (o.trace) 2 else 1
        var cycle = 0
        while ((cycle < minCycles || System.nanoTime() < end) &&
            cycle < uploads.length) {
          val body = Files.readAllBytes(uploads(cycle))
          // traced run: instrument every other cycle
          tracer.instrument = o.trace && cycle % 2 == 1
          val t0 = System.nanoTime()
          val c0 = cpuNs()
          val (id, status, postS, polls, pollS) =
            tracer.span("ingest_job", "upload", s"cycle-$cycle") {
              client.upload(body, f"cycle$cycle%04d.zip", s"cycle-$cycle")
            }
          obs.emit("job", "cycle" -> cycle, "job" -> id, "status" -> status,
            "s" -> secs(t0), "cpu_s" -> cpuSecs(c0), "post_s" -> postS,
            "polls" -> polls,
            "poll_s" -> pollS, "seen_ms" -> System.currentTimeMillis())
          reads.getOrElse(cycle, Seq.empty)
            .foreach(r => read(store, r, cycle, obs, tracer))
          cycle += 1
        }
        tracer.instrument = false
        if (o.trace) tracer.span("probe", "job_log", "after") {
          tracker.events().collect().foreach { r =>
            obs.emit("job_event", "job" -> r.getAs[String]("job_id"),
              "status" -> r.getAs[String]("status"),
              "ts_ms" -> r.getAs[Timestamp]("event_ts").getTime)
          }
        }
        cycle
    }
    obs.emit("loop", "cycles" -> cycles)
    obs.emit("store", "bytes" -> storeBytes(store))
    tracer.instrument = false
    if (o.trace) tracer.span("probe", "layers", "after") {
      obs.emit("layer", "name" -> "jobs.log_files", "v" ->
        Tracer.listing(o.work.resolve("jobs")).keys.count(_.endsWith(".parquet")))
      // the ingest layer on the same inputs, after the workload
      val used = uploads.take(cycles)
      used.foreach { z =>
        val t0 = System.nanoTime()
        val staged = ZipStaging.stage(z.toString)
        val stageS = secs(t0)
        val t1 = System.nanoTime()
        EmailIngest.scan(spark, staged.toString).count()
        obs.emit("ingest_layer", "stage_s" -> stageS, "scan_s" -> secs(t1))
        ZipStaging.cleanup(staged)
      }
      codecLayer(obs, used.flatMap(unzip))
    }
  }

  def unzip(z: Path): Seq[(String, Array[Byte])] = {
    val zis = new ZipInputStream(Files.newInputStream(z))
    try Iterator.continually(zis.getNextEntry).takeWhile(_ != null)
      .filterNot(_.isDirectory).map(e => e.getName -> zis.readAllBytes())
      .toVector
    finally zis.close()
  }

  /** Rfc822Parser.parse on one thread over the given message files. */
  def codecLayer(obs: Obs, files: Seq[(String, Array[Byte])]): Unit = {
    val t0 = System.nanoTime()
    files.foreach { case (name, bytes) =>
      val p = name.split('/')
      Rfc822Parser.parse(bytes, p(p.length - 3), p(p.length - 2), p.last)
    }
    obs.emit("layer", "name" -> "codec.parse_us_per_msg",
      "v" -> secs(t0) * 1e6 / math.max(1, files.length))
  }

  def maildir(root: Path): Seq[(String, Array[Byte])] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toVector
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p))
    finally s.close()
  }

  /** The ingest scan and the codec over the base maildir (the layers a
    * workload without uploads still exercises in its set-up). */
  def baseLayers(spark: SparkSession, o: Opts, obs: Obs): Unit = {
    val base = o.work.resolve("base")
    val t0 = System.nanoTime()
    EmailIngest.scan(spark, base.toString).count()
    obs.emit("ingest_layer", "stage_s" -> 0.0, "scan_s" -> secs(t0))
    codecLayer(obs, maildir(base))
  }

  // ------------------------------------------------ graph_analytics

  def graphAnalytics(spark: SparkSession, o: Opts, obs: Obs,
      tracer: Tracer): Unit = {
    val store = baseStore(spark, o, obs, tracer)(warmDirect(spark, o))
    val t0 = System.nanoTime()
    val tpch = lineitem(spark, o)
    obs.emit("setup", "part" -> "lineitem_s", "s" -> secs(t0))
    val t1 = System.nanoTime()
    graphPass(spark, store, tpch, -1, obs, tracer)
    obs.emit("setup", "part" -> "warm_pass_s", "s" -> secs(t1))
    val end = System.nanoTime() + (o.seconds * 1e9).toLong
    var pass = 0
    while (System.nanoTime() < end) {
      // traced run: instrument every other pass
      tracer.instrument = o.trace && pass % 2 == 1
      graphPass(spark, store, tpch, pass, obs, tracer)
      pass += 1
    }
    obs.emit("loop", "cycles" -> pass)
    readBurst(store, o, obs, tracer)
    obs.emit("store", "bytes" -> storeBytes(store))
    if (o.trace) tracer.span("probe", "layers", "after") {
      baseLayers(spark, o, obs) }
  }

  /** The generated lineitem rows as the parquet table g94/g102 read;
    * returns the table dir. */
  def lineitem(spark: SparkSession, o: Opts): String = {
    val tpch = o.work.resolve("tpch").toString
    spark.read.schema(StructType(Seq(
        StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
        StructField("l_quantity", IntegerType))))
      .csv(o.work.resolve("lineitem.csv").toString)
      .coalesce(1).write.parquet(s"$tpch/lineitem.parquet")
    tpch
  }

  /** One pass: seven graph calls in order, each forced and timed, with
    * the answer fingerprints the Python side checks. */
  def graphPass(spark: SparkSession, store: ProbedStore, tpch: String,
      pass: Int, obs: Obs, tracer: Tracer): Unit = {
    val req = s"pass-$pass"
    val answers = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    val calls = scala.collection.mutable.ArrayBuffer.empty[Double]
    def call[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = if (tracer.instrument) tracer.span("graph", name, req)(body)
              else body
      calls += secs(t0)
      r
    }
    def comm: DataFrame = EmailQueries.communicationEdges(store.read())
      .select(xxhash64(col("src")).as("src"), xxhash64(col("dst")).as("dst"))
    def idMap(rows: Array[Row]): Map[Long, Long] =
      rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val t0 = System.nanoTime()
    val c0 = cpuNs()
    tracer.span(if (pass < 0) "graph_warm" else "graph_pass", "pass", req) {
      answers("edges") = call("edges") { EmailGraph.edges(store.read()).count() }
      val th = call("threads") {
        EmailGraph.assignThreadIds(spark, store.read())
          .agg(countDistinct("thread_id"), count(lit(1))).collect()(0)
      }
      answers("threads") = th.getLong(0)
      answers("thread_rows") = th.getLong(1)
      val gx = idMap(call("cc_graphx") {
        EmailGraph.components(spark, comm).collect() })
      val lss = idMap(call("cc_lss") {
        EmailGraph.componentsLargeSmallStar(spark, comm).collect() })
      answers("cc_vertices") = gx.size
      answers("cc_components") = gx.values.toSet.size
      answers("cc_agree") = gx == lss
      answers("pagerank_rows") = call("pagerank") {
        EmailGraph.pageRank(spark, comm).count() }
      answers("g94_rows") = call("g94_pagerank") {
        GraphOps.pagerankFixed(spark, tpch).collect().length }
      val g102 = call("g102_cc") {
        GraphOps.copurchaseComponentsDF(spark, tpch).collect() }
      answers("g102_rows") = g102.length
      answers("g102_components") = g102.map(_.getLong(1)).toSet.size
      answers("g102_component_sum") = g102.map(_.getLong(1)).sum
    }
    obs.emit("pass", (Seq("pass" -> pass, "s" -> secs(t0),
      "cpu_s" -> cpuSecs(c0),
      "calls" -> calls.toSeq) ++ answers.toSeq): _*)
  }

  // -------------------------------------------------- stream_ingest

  def streamIngest(spark: SparkSession, o: Opts, obs: Obs,
      tracer: Tracer): Unit = {
    val store = baseStore(spark, o, obs, tracer)(warmDirect(spark, o))
    val in = o.work.resolve("stream_in")
    val ckpt = o.work.resolve("ckpt")
    val plan = tsv(o.work.resolve("stream.tsv"))
    val bodies = plan.map(r => Files.readAllBytes(
      o.work.resolve("stream_src").resolve(r(0))))
    plan.foreach(r => Files.createDirectories(in.resolve(r(1)).resolve(r(2))))
    val t0 = System.nanoTime()
    val q = StreamingOps.streamIngest(spark, in.toString, store,
      checkpointDir = Some(ckpt.toString))
    q.processAllAvailable()
    obs.emit("setup", "part" -> "stream_start_s", "s" -> secs(t0))

    // the open-loop generator: file i is due at start + i / rate and is
    // written under a hidden name, then renamed into the watched dir
    val written = new Array[Long](plan.length)
    val feedCpu = cpuNs()
    val startMs = System.currentTimeMillis() + 100
    val startNs = System.nanoTime() + 100L * 1000000L
    val gen = new Thread(() => {
      plan.indices.foreach { i =>
        // traced run: instrument the second half of the feed
        if (o.trace && i == plan.length / 2) tracer.instrument = true
        val dueNs = startNs + (i * 1e9 / o.rate).toLong
        val wait = dueNs - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        val r = plan(i)
        val dir = in.resolve(r(1)).resolve(r(2))
        val tmp = dir.resolve("." + r(3) + ".tmp")
        Files.write(tmp, bodies(i))
        Files.move(tmp, dir.resolve(r(3)), StandardCopyOption.ATOMIC_MOVE)
        written(i) = System.currentTimeMillis()
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    q.processAllAvailable()
    q.stop()
    tracer.instrument = false
    val drained = System.currentTimeMillis()
    val feedCpuS = cpuSecs(feedCpu)

    // batch membership from the file-source log, commit times from the
    // commit log, both in the checkpoint dir the benchmark owns
    val batchOf = sourceLog(ckpt.resolve("sources").resolve("0"))
    val commitMs = entries(ckpt.resolve("commits"))
      .filter(_.forall(_.isDigit)).map(b => b.toLong ->
        Files.getLastModifiedTime(ckpt.resolve("commits").resolve(b))
          .toMillis).toMap
    plan.indices.foreach { i =>
      val r = plan(i)
      val path = in.resolve(r(1)).resolve(r(2)).resolve(r(3)).toString
      val b = batchOf.get(path)
      obs.emit("file", "i" -> i,
        "due_ms" -> (startMs + i * 1000.0 / o.rate),
        "written_ms" -> written(i), "batch" -> b,
        "commit_ms" -> b.flatMap(commitMs.get))
    }
    obs.emit("loop", "cycles" -> plan.length, "drained_ms" -> drained,
      "cpu_s" -> feedCpuS)
    readBurst(store, o, obs, tracer)
    store.read().select("dedupe_key", "subject", "mailboxes").collect()
      .foreach { r =>
        obs.emit("doc", "key" -> r.getString(0), "subject" -> r.getString(1),
          "mailboxes" -> r.getSeq[Row](2).map(m =>
            Seq(m.getString(0), m.getString(1), m.getString(2)).mkString("/")))
      }
    obs.emit("store", "bytes" -> storeBytes(store))
    if (o.trace) {
      tracer.span("probe", "layers", "after") { baseLayers(spark, o, obs) }
      // the graph layer over the drained store: one warm pass, then one
      // instrumented pass
      val tpch = tracer.span("probe", "lineitem", "after") {
        lineitem(spark, o) }
      graphPass(spark, store, tpch, -1, obs, tracer)
      tracer.instrument = true
      graphPass(spark, store, tpch, 0, obs, tracer)
      tracer.instrument = false
    }
  }

  /** file path -> micro-batch id, from a file-source metadata log
    * (plain batch files and compacted `.compact` files alike). */
  def sourceLog(dir: Path): Map[String, Long] = {
    val entry = """"path":"([^"]+)".*"batchId":(\d+)""".r
    entries(dir).toSeq.filterNot(_.startsWith(".")).flatMap { f =>
      Files.readAllLines(dir.resolve(f), StandardCharsets.UTF_8).asScala
        .flatMap(l => entry.findFirstMatchIn(l))
        .map(m => Paths.get(new URI(m.group(1))).toString -> m.group(2).toLong)
    }.toMap
  }
}
