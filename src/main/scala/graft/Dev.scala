package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The one dev runner, for optimization work on single entries:
  *
  *  - `time <sfDir> <name>...`: each name is a [[SparkEntry.queries]]
  *    entry (3 runs through [[Bench.runQuery]], median) or a warm of
  *    [[Bench.warms]] (MIN of 3 through [[Bench.minOf3]], the warm's
  *    targeted clear between runs). Names run in the order given and
  *    their caches stay built, so a warm listed before a query times
  *    the query against that cache. Each run prints its seconds and the
  *    Spark jobs it started; a streaming entry also prints each
  *    micro-batch's input rows, `durationMs` and every state operator's
  *    `name:numShufflePartitions`. An unknown name fails before
  *    anything runs.
  *  - `plan <sfDir> <outDir> <suffix> <q1,q2,...>`: writes each query's
  *    formatted physical plan to `<outDir>/<name>_<suffix>.txt` (the
  *    before/after plan evidence under `plans/`).
  *  - `audit [q1,q2,...]`: executes every query (or the named ones) at
  *    sf0.01 and prints one line of plan properties per query — join
  *    kinds, cartesian products, codegen stages, UDFs, sort windows,
  *    pushed filters — then the full plans of q03 and d52.
  *
  * Usage: `sbt "runMain graft.Dev time /root/testdata/sf0.1
  * cache_dedup_frames d51_jaccard_pairs"`; the session's threads come
  * from `SPARK_GRAFT_CPUS` like every main's ([[Sessions.local]]).
  */
object Dev {

  private val usage =
    "usage: time <sfDir> <name>... | plan <sfDir> <outDir> <suffix> " +
      "<q1,q2,...> | audit [q1,q2,...]"

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    try run(spark, args) finally { Registries.clearAll(); spark.stop() }
  }

  /** One command on `spark`; the caches it builds stay for the caller
    * to clear. */
  def run(spark: SparkSession, args: Array[String]): Unit = args.toList match {
    case "time" :: sfDir :: names if names.nonEmpty => time(spark, sfDir, names)
    case "plan" :: sfDir :: outDir :: suffix :: names :: Nil =>
      plan(spark, sfDir, outDir, suffix, names.split(",").toSeq)
    case "audit" :: Nil => audit(spark, None)
    case "audit" :: names :: Nil => audit(spark, Some(names.split(",").toSeq))
    case _ => throw new IllegalArgumentException(usage)
  }

  /** The named query entries; an unknown name fails here, before any
    * entry runs (also Verify's check of its query subset). */
  private[graft] def entries(names: Seq[String])
      : Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = SparkEntry.queries
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown query: ${unknown.mkString(", ")}")
    names.map(n => n -> all(n))
  }

  private def time(spark: SparkSession, sfDir: String,
      names: Seq[String]): Unit = {
    val builds = new Bench.BuildTimes
    val warms = Bench.warms(spark, sfDir, builds).map(w => w.name -> w).toMap
    val queries = entries(names.filterNot(warms.contains)).toMap
    val jobs = new JobCounter(spark)
    val batches = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        println(s"[dev] batch ${e.progress.batchId} " +
          s"rows=${e.progress.numInputRows} durationMs=${e.progress.durationMs}" +
          e.progress.stateOperators
            .map(o => s" ${o.operatorName}:${o.numShufflePartitions}").mkString)
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    def timed(name: String, f: () => Unit): (Double, Boolean) = {
      val before = jobs.sync()
      val (t, ok) = Bench.timeOnce(name, f)
      println(f"[dev] $name $t%.3f s jobs=${jobs.sync() - before}" +
        (if (ok) "" else " FAILED"))
      (t, ok)
    }
    spark.sparkContext.addSparkListener(jobs)
    spark.streams.addListener(batches)
    try names.foreach { name =>
      warms.get(name) match {
        case Some(w) =>
          println(f"[dev] $name min ${Bench.minOf3(w, timed)._1}%.3f s")
        case None =>
          val t = Bench.median3(
            () => Bench.runQuery(name, queries(name)(spark, sfDir)), name, timed)
          println(f"[dev] $name median $t%.3f s")
      }
    } finally {
      spark.streams.removeListener(batches)
      spark.sparkContext.removeSparkListener(jobs)
    }
    builds.toSeq.foreach { case (b, t) => println(f"[dev] build $b $t%.3f s") }
  }

  private def plan(spark: SparkSession, sfDir: String, outDir: String,
      suffix: String, names: Seq[String]): Unit = {
    val qs = entries(names)
    val dir = Files.createDirectories(Paths.get(outDir))
    qs.foreach { case (name, q) =>
      val file = dir.resolve(s"${name}_$suffix.txt")
      Files.writeString(file,
        q(spark, sfDir).queryExecution.explainString(FormattedMode))
      println(s"[dev] wrote $file")
    }
  }

  private def audit(spark: SparkSession, names: Option[Seq[String]]): Unit = {
    val d = "/root/testdata/sf0.01"
    val qs = names.fold(SparkEntry.queries.toSeq.sortBy(_._1))(entries)
    qs.foreach { case (name, q) =>
      val df = q(spark, d)
      df.collect() // execute THIS df so AQE finalizes the plan read below
      val plan = df.queryExecution.executedPlan.toString
      val lines = plan.split("\n")
      def n(op: String) = lines.count(_.contains(op))
      val pushed = "PushedFilters: \\[[^\\]]+\\]".r.findFirstIn(plan)
        .getOrElse("PushedFilters: NONE")
      // codegen stages render as "*(n)" in toString mode (PLANS.md)
      val wsc = """\*\((\d+)\)""".r.findAllMatchIn(plan).map(_.group(1))
        .toSet.size
      val udfs = n("BatchEvalPython") + n("ScalaUDF")
      // sort-window stages funnel whole inputs through few tasks — the
      // ANN/argmin tiers must show 0 (bounded-heap aggregates instead)
      println(f"$name%-24s BHJ=${n("BroadcastHashJoin")} " +
        s"SMJ=${n("SortMergeJoin")} BNLJ=${n("BroadcastNestedLoopJoin")} " +
        s"CART=${n("CartesianProduct")} WSC=$wsc UDF=$udfs " +
        s"WIN=${n("Window [")} | $pushed")
    }
    // full plans for the two most scale-critical entries
    qs.filter { case (name, _) =>
      name == "q03_shipping_priority" || name == "d52_minhash_lsh"
    }.foreach { case (name, q) =>
      println(s"\n======== $name\n")
      println(q(spark, d).queryExecution.explainString(FormattedMode).take(4000))
    }
  }

  /** Counts the Spark jobs started. Job starts reach a listener
    * asynchronously but in order, so [[sync]] runs a marker job and
    * waits until it is seen: every job started before has been
    * counted. */
  private final class JobCounter(spark: SparkSession) extends SparkListener {
    private val marker = "graft-dev-mark"
    private val started = new AtomicLong
    @volatile private var seen = 0L
    private var marks = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith(marker)) match {
        case Some(g) => seen = g.stripPrefix(marker).toLong
        case None => started.incrementAndGet()
      }

    /** Jobs started so far, marker jobs excluded. */
    def sync(): Long = {
      marks += 1
      val sc = spark.sparkContext
      sc.setJobGroup(s"$marker$marks", "dev job-count marker")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (seen < marks && System.nanoTime() < deadline) Thread.sleep(5)
      started.get()
    }
  }
}
