package perfbench

import java.net.URI
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.store.{DocStore, PartitionedEmailStore}

/** Traced-run instrumentation, all from outside the program: spans
  * around the benchmark's calls into each layer, plus Spark's public
  * listener and progress APIs.
  *
  * Attribution. A span opened on the benchmark's own thread gets a job
  * group `pb-<id>`, so Spark jobs it triggers are charged to it. Jobs
  * of the `HttpApi` worker carry scheduler pool `ingest`; micro-batch
  * jobs carry the streaming query id; anything else (the HTTP handler
  * threads answering status polls) has neither. Catalyst phase times
  * reach us by query-execution id, which the jobs of that execution
  * carry as a local property. */
final class Tracer(spark: SparkSession, obs: Obs, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val nextId = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  /** Whether per-call instrumentation (the store wrapper's listings and
    * row counts, the plan/exec split of reads) runs. The traced run
    * alternates it so trace.overhead_ratio compares like with like. */
  @volatile var instrument = false

  // --------------------------------------------------------------- spans

  def span[T](kind: String, name: String, req: String)(body: => T): T =
    if (!enabled) body else traced(kind, name, req)(body)

  private def traced[T](kind: String, name: String, req: String)(
      body: => T): T = {
    val id = nextId.incrementAndGet()
    val parent = stack.get.headOption.getOrElse(0L)
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    stack.set(id :: stack.get)
    sc.setJobGroup(s"pb-$id", name)
    val t0 = System.nanoTime()
    val w0 = System.currentTimeMillis()
    try body
    finally {
      val dt = System.nanoTime() - t0
      stack.set(stack.get.tail)
      sc.setLocalProperty("spark.jobGroup.id", prevGroup)
      sc.setLocalProperty("spark.job.description", prevDesc)
      obs.emit("span", "id" -> id, "parent" -> parent, "kind" -> kind,
        "name" -> name, "req" -> req, "start_ms" -> w0,
        "dur_s" -> dt / 1e9)
    }
  }

  // ------------------------------------------------------ Spark listener

  private final class Agg {
    var jobs, stages, tasks = 0L
    var runMs, gcMs, shuffleBytes = 0L
    var cpuNs = 0L
  }
  private val aggs = new ConcurrentHashMap[String, Agg]()
  private val stageAttr = new ConcurrentHashMap[Int, String]()
  private val execAttr = new ConcurrentHashMap[Long, String]()
  private val catalyst = ArrayBuffer.empty[(Long, Double)]

  // a micro-batch's jobs also carry a job group (the query's run id),
  // so the streaming query id is tested first
  private def attr(p: java.util.Properties): String =
    if (p == null) "none"
    else Option(p.getProperty("sql.streaming.queryId")).map(_ => "stream")
      .orElse(Option(p.getProperty("spark.jobGroup.id")))
      .orElse(Option(p.getProperty("spark.scheduler.pool")).map("pool:" + _))
      .getOrElse("none")

  private def agg(key: String): Agg = aggs.computeIfAbsent(key, _ => new Agg)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val a = attr(e.properties)
      agg(a).synchronized { agg(a).jobs += 1 }
      Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => execAttr.put(x.toLong, a))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val a = attr(e.properties)
      stageAttr.put(e.stageInfo.stageId, a)
      agg(a).synchronized { agg(a).stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val g = agg(stageAttr.getOrDefault(e.stageId, "none"))
        g.synchronized {
          g.tasks += 1
          g.runMs += m.executorRunTime
          g.cpuNs += m.executorCpuTime
          g.gcMs += m.jvmGCTime
          g.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ms = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
      catalyst.synchronized { catalyst += ((qe.id, ms)); () }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      obs.emit("progress", "batch" -> p.batchId, "rows" -> p.numInputRows,
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "duration_ms" -> d.toSeq.sortBy(_._1).map { case (k, v) =>
          s"$k=$v" })
    }
  }

  def install(): Unit = if (enabled) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Detach the listeners after the bus has delivered what it holds,
    * then write the per-attribution totals. */
  def finish(): Unit = if (enabled) {
    // the listener bus is asynchronous and offers no public drain, so
    // give it a moment to deliver the last task and query events
    Thread.sleep(500)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    val catByAttr = catalyst.synchronized(catalyst.toList)
      .groupMapReduce { case (id, _) => execAttr.getOrDefault(id, "none") }(
        _._2)(_ + _)
    val keys = aggs.keySet.asScala ++ catByAttr.keySet
    keys.foreach { k =>
      val g = aggs.getOrDefault(k, new Agg)
      obs.emit("spark", "attr" -> k, "jobs" -> g.jobs, "stages" -> g.stages,
        "tasks" -> g.tasks, "task_s" -> g.runMs / 1e3,
        "cpu_s" -> g.cpuNs / 1e9, "gc_s" -> g.gcMs / 1e3,
        "shuffle_mb" -> g.shuffleBytes / 1048576.0,
        "catalyst_ms" -> catByAttr.getOrElse(k, 0.0))
    }
  }
}

object Tracer extends AdaptiveSparkPlanHelper {

  /** (files, rows) read by the file scans of an executed plan, from the
    * scan nodes' SQL metrics. */
  def scanStats(plan: SparkPlan): (Long, Long) = {
    val scans = collect(plan) { case s: FileSourceScanExec => s }
    (scans.map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum,
      scans.map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum)
  }

  /** Regular files under `root` with their sizes (empty if absent). */
  def listing(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString -> Files.size(p)).toMap
      finally s.close()
    }

  def bytesUnder(root: Path): Long = listing(root).values.sum
}

/** The store handed to `HttpApi` and `streamIngest`: delegates to the
  * program's [[PartitionedEmailStore]] and, while the tracer
  * instruments, times each upsert and reads the store's directories
  * before and after it. */
final class ProbedStore(spark: SparkSession, val root: String,
    tracer: Tracer, obs: Obs) extends DocStore {
  val inner = new PartitionedEmailStore(spark, root)
  private val storeDir = Paths.get(root)
  private val indexDir = Paths.get(root + "_keyidx")

  def read(): DataFrame = inner.read()
  def isEmpty: Boolean = inner.isEmpty

  def upsert(batch: DataFrame): Unit =
    if (!tracer.instrument) inner.upsert(batch)
    else {
      // the batch's input files, for rows and raw bytes; this extra
      // pass runs before the timer starts
      val paths = batch.select("path").collect().map(_.getString(0))
      val inBytes = paths.map(p => Files.size(Paths.get(new URI(p)))).sum
      val before = Tracer.listing(storeDir)
      val idxBefore = Tracer.listing(indexDir)
      val req = Option(spark.sparkContext.getLocalProperty(
        "streaming.sql.batchId")).map("batch-" + _).getOrElse("job")
      val t0 = System.nanoTime()
      inner.upsert(batch)
      val dt = (System.nanoTime() - t0) / 1e9
      val after = Tracer.listing(storeDir)
      val idxAfter = Tracer.listing(indexDir)
      def month(f: String) = f.takeWhile(_ != '/')
      val monthsBefore = before.keys.groupBy(month).map { case (m, fs) =>
        m -> fs.toSet }
      val monthsAfter = after.keys.groupBy(month).map { case (m, fs) =>
        m -> fs.toSet }
      val rewritten = monthsAfter.count { case (m, fs) =>
        m.startsWith("date_month=") && !monthsBefore.get(m).contains(fs) }
      val written = (after.keySet -- before.keySet).toSeq.map(after) ++
        (idxAfter.keySet -- idxBefore.keySet).toSeq.map(idxAfter)
      val census = inner.fileCensus()
      obs.emit("upsert", "req" -> req, "s" -> dt, "rows" -> paths.length,
        "in_bytes" -> inBytes, "months_rewritten" -> rewritten,
        "bytes_written" -> written.sum,
        "files_per_month_max" -> (if (census.isEmpty) 0 else census.values.max),
        "keyidx_files" -> idxAfter.keys.count(_.endsWith(".parquet")))
    }
}
