package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.util.UUID

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ingest.EmailIngest

/** Structured Streaming tier (SURVEY.md §2.8): the reference's Celery
  * pipeline is an incremental, out-of-order ingest whose only state is
  * the Mongo unique index; here that becomes file-source streams with
  * keyed dedup state and foreachBatch merges.
  */
object StreamingOps {

  /** events schema for streaming reads (must be explicit: file streams
    * can't infer). `ts` is LongType epoch nanos — the engine clock;
    * [[stageFile]] rewrites timestamp-typed source files to match. */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** documents schema for streaming reads. */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** embeddings schema for streaming reads. */
  val embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  private def schemaOf(table: String): StructType = table match {
    case "events" => eventsSchema
    case "documents" => documentsSchema
    case "embeddings" => embeddingsSchema
  }

  /** Staged stream sources and restart slices per (session, dir):
    * entries `stream-src-<file>`, `stream-sentinel`, `restart-slices`
    * and `doc-slices`. */
  private val staged = new graft.ArtifactRegistry

  /** Stage a single parquet file behind a temp directory — the
    * file-stream source requires a DIRECTORY, not a file. Staging dirs
    * are cached per (session, d, name): repeated invocations (bench
    * median-of-3 runs every streaming query 3×) reuse one staged dir
    * instead of accumulating fresh ones for the JVM's lifetime.
    *
    * `events.parquet` whose `ts` is a real timestamp (current driver
    * testdata) is REWRITTEN through [[graft.Tables.events]] so the
    * staged file carries the engine's LongType epoch-nanos clock — the
    * declared [[eventsSchema]]; older nanos-long files (and non-events
    * tables) stage as a plain symlink. One-time cost per (session, dir,
    * file), and only on the conversion path. */
  private[graft] def stageFile(spark: SparkSession, d: String, name: String)
      : String =
    staged.getOrBuild(spark, d, s"stream-src-$name") { dir =>
      val needsRewrite = name == "events.parquet" &&
        graft.Tables.t(spark, d, "events").schema("ts").dataType !=
          org.apache.spark.sql.types.LongType
      if (needsRewrite)
        graft.Tables.events(spark, d)
          .coalesce(1).write.mode("overwrite").parquet(dir)
      else
        Files.createSymbolicLink(Paths.get(dir, name),
          Paths.get(d, name).toAbsolutePath)
    }

  /** Input row counts per (session, dir, table, predicate): the count
    * only sizes the drain's state partitioning (and is stable per
    * fixture dir), so re-scanning the parquet on every bench re-run of
    * the same query is pure fixed overhead. The default `lit(true)`
    * predicate is pruned by the optimizer, so an unfiltered count is
    * answered from the parquet footers. Released by
    * [[graft.Registries.clearAll]]. */
  private val inCounts = new java.util.concurrent.ConcurrentHashMap[
    (String, String, String), java.lang.Long]()
  graft.Registries.onClearFrames(() => inCounts.clear())
  private def inCount(spark: SparkSession, d: String, table: String,
      sizedBy: Column): Long =
    inCounts.computeIfAbsent(
      graft.FrameRegistry.key(spark, d, s"$table|$sizedBy"), _ =>
        graft.Tables.t(spark, d, table).filter(sizedBy).count())
      .longValue()

  /** One entry's stream input. `open` starts a fresh reader over the
    * staged source (a plan may open it twice: e88/e100 join two
    * sources); `nIn` is the input row count the drain width is sized
    * by. A restart feed also carries its fresh source dir and the
    * phase-2 hook that adds the rest of the input to it. */
  private final case class Feed(nIn: Long, open: () => DataFrame,
      restart: Option[(Path, () => Unit)] = None)

  private def reader(spark: SparkSession, table: String, dir: String)
      : () => DataFrame =
    () => spark.readStream.schema(schemaOf(table)).parquet(dir)

  /** The feed of `table` (`events`, `documents` or `embeddings`): the
    * staged file read with the table's schema, the drain sized by the
    * rows that match `sizedBy`. */
  private def feed(spark: SparkSession, d: String, table: String,
      sizedBy: Column = lit(true)): Feed = {
    val dir = stageFile(spark, d, s"$table.parquet")
    Feed(inCount(spark, d, table, sizedBy), reader(spark, table, dir))
  }

  // e100's staging dir: the events parquet PLUS a far-future sentinel
  // batch. LEFT OUTER stream-stream joins emit their null rows only
  // when the watermark passes a left row's eviction bound — on a finite
  // drain the tail would stay in state forever and the outer results
  // would be silently incomplete. One sentinel event per side pushes
  // both watermarks past every real event, so eviction (and the outer
  // output) completes before processAllAvailable returns. Cached per
  // (session, dir) (bench runs the query 3×).
  private def stageWithSentinel(spark: SparkSession, d: String): String =
    staged.getOrBuild(spark, d, "stream-sentinel") { out =>
      val dir = Paths.get(out)
      // reuse the normalized staged file (symlink on the passthrough
      // path) so the sentinel batch and the corpus share one ts clock
      val staged = Paths.get(stageFile(spark, d, "events.parquet"))
      import scala.jdk.CollectionConverters._
      Files.list(staged).iterator().asScala
        // skip _SUCCESS markers and .crc checkpoint siblings — only
        // real data files may surface in the stream source dir
        .filter { p =>
          val n = p.getFileName.toString
          !n.startsWith("_") && !n.startsWith(".")
        }
        .zipWithIndex.foreach { case (p, i) =>
          Files.createSymbolicLink(
            dir.resolve(s"staged_$i.parquet"), p.toAbsolutePath)
        }
      val maxTs = graft.Tables.events(spark, d)
        .agg(max("ts")).head().getLong(0)
      val far = maxTs + 360000000000000L // +100 h in ns
      import spark.implicits._
      Seq((-1L, far, -1L, "error", 0.0, "{}"),
          (-2L, far, -2L, "click", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(out)
    }

  /** The events feed with the e100 sentinel batch staged beside it. */
  private def sentinelFeed(spark: SparkSession, d: String,
      sizedBy: Column = lit(true)): Feed = {
    val dir = stageWithSentinel(spark, d)
    Feed(inCount(spark, d, "events", sizedBy), reader(spark, "events", dir))
  }

  /** The two time-slices + sentinel batch as parquet FILES, written
    * once per (session, dir) and reused by every restart-twin
    * invocation (bench median-of-3 re-runs each twin 3× — rewriting
    * ~identical slices each run was pure fixed overhead; the slices
    * are a deterministic function of the fixture, so symlinking the
    * cached files preserves every semantic of a fresh write). */
  private def sliceFiles(spark: SparkSession, d: String)
      : (Path, Path, Path) = {
    val dir = staged.getOrBuild(spark, d, "restart-slices") { out =>
      val ev = graft.Tables.events(spark, d)
      val r = ev.agg(min("ts"), max("ts")).head()
      val (mn, mx) = (r.getLong(0), r.getLong(1))
      // midpoint cut: deterministic arithmetic (no sampling), splits by
      // EVENT TIME so slice-2 rows always sit above the watermark the
      // phase-1 drain leaves behind (nothing gets late-dropped that the
      // batch oracle counts), and both slices are non-empty on every
      // driver fixture
      val cut = mn + (mx - mn) / 2
      def one(sub: String, df: DataFrame): Unit =
        graft.Fs.writeSingleParquet(df, sliceAt(out, sub))
      import spark.implicits._
      val far = mx + 360000000000000L // +100 h in ns (e100 staging)
      val sentinel = Seq((-1L, far, -1L, "error", 0.0, "{}"),
          (-2L, far, -2L, "click", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      one("s1", ev.filter(col("ts") <= cut))
      one("s2", ev.filter(col("ts") > cut))
      one("sent", sentinel)
    }
    (sliceAt(dir, "s1"), sliceAt(dir, "s2"), sliceAt(dir, "sent"))
  }

  private def sliceAt(dir: String, sub: String): Path =
    Paths.get(dir, s"$sub.parquet")

  /** Document slices (doc_id parity split) for the document restart
    * twins, cached per (session, dir) like [[sliceFiles]]. Parity, not
    * event time: the proof deliberately uses the harshest arrival
    * split (interleaved ids, no watermark semantics to lean on). */
  private def docSliceFiles(spark: SparkSession, d: String)
      : (Path, Path) = {
    val dir = staged.getOrBuild(spark, d, "doc-slices") { out =>
      val docs = graft.Tables.documents(spark, d)
      graft.Fs.writeSingleParquet(docs.filter(col("doc_id") % 2 === 0),
        sliceAt(out, "s1"))
      graft.Fs.writeSingleParquet(docs.filter(col("doc_id") % 2 === 1),
        sliceAt(out, "s2"))
    }
    (sliceAt(dir, "s1"), sliceAt(dir, "s2"))
  }

  /** A restart feed of `table`: slice 1 is present from the start;
    * the phase-2 hook links the `later` files into the same source dir.
    * A FRESH dir per call (it MUTATES mid-drain by design), which the
    * drain deletes when it finishes; the slice files are symlinked, not
    * rewritten. */
  private def restartFeed(spark: SparkSession, d: String, table: String,
      sizedBy: Column, slice1: Path, later: Seq[(String, Path)]): Feed = {
    val dir = graft.Fs.scratchTempDir(s"graft-$table-restart")
    def link(name: String, target: Path): Path =
      Files.createSymbolicLink(dir.resolve(name), target)
    link("slice1.parquet", slice1)
    Feed(inCount(spark, d, table, sizedBy), reader(spark, table, dir.toString),
      Some(dir -> (() => later.foreach { case (n, p) => link(n, p) })))
  }

  /** The events restart feed: the two time slices, the e100-style
    * far-future sentinel rows added with slice 2 when `sentinel`. */
  private def eventRestartFeed(spark: SparkSession, d: String,
      sizedBy: Column = lit(true), sentinel: Boolean = false): Feed = {
    val (s1, s2, sent) = sliceFiles(spark, d)
    restartFeed(spark, d, "events", sizedBy, s1, Seq("slice2.parquet" -> s2) ++
      Option.when(sentinel)("sentinel.parquet" -> sent))
  }

  /** The documents restart feed: the two doc_id parity slices. */
  private def docRestartFeed(spark: SparkSession, d: String): Feed = {
    val (s1, s2) = docSliceFiles(spark, d)
    restartFeed(spark, d, "documents", lit(true), s1,
      Seq("slice2.parquet" -> s2))
  }

  private val drainConfLock = new Object

  /** The streaming tier's one scoped conf setter: runs `body` on the
    * built `plan` with the state partitioning sized to `nIn` input rows
    * (~50k rows per partition, floored at 1, capped at the session
    * setting) and, when the plan holds a `transformWithState` operator,
    * the RocksDB state store provider that operator requires. Both
    * session values are restored after, an unset provider by unsetting
    * it.
    *
    * Streaming state-store partitioning is fixed by shuffle.partitions
    * at the first batch and AQE does not coalesce inside micro-batches,
    * so fixture-scale runs would otherwise commit 32 near-empty state
    * stores per micro-batch (a stream-stream join maintains four per
    * side per partition). At real scale the formula returns the session
    * width unchanged. (Profiled: raising the drain's partition count 4×
    * does not move addBatch — the per-drain cost is fixed streaming
    * machinery, not aggregation parallelism.)
    *
    * Both settings are session-global, and an overlapping call from
    * another thread would read the narrowed values as its "previous"
    * and restore them for good, so the save-set-restore window is
    * serialized. Other streaming queries started in this session during
    * the window would pick the values up too; the lock bounds that
    * exposure. Batch paths never write these settings; they rely on
    * AQE. */
  private[graft] def withDrainConf[T](spark: SparkSession, nIn: Long)
      (plan: => DataFrame)(body: DataFrame => T): T =
    drainConfLock.synchronized {
      val widthKey = "spark.sql.shuffle.partitions"
      val providerKey = "spark.sql.streaming.stateStore.providerClass"
      val prevWidth = spark.conf.get(widthKey)
      // the explicit setting only: getOption would report the default
      // of an unset provider, and restoring that would pin it
      val prevProvider = spark.conf.getAll.get(providerKey)
      val p = math.max(1L, math.min(prevWidth.toLong, (nIn + 49999) / 50000))
      spark.conf.set(widthKey, p.toString)
      try {
        val df = plan
        if (df.queryExecution.logical.exists(_.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.logical.TransformWithState]))
          spark.conf.set(providerKey, "org.apache.spark.sql.execution" +
            ".streaming.state.RocksDBStateStoreProvider")
        body(df)
      } finally {
        spark.conf.set(widthKey, prevWidth)
        prevProvider.fold(spark.conf.unset(providerKey))(
          spark.conf.set(providerKey, _))
      }
    }

  /** Previous sink output dir per (session, dir, entry) — each append
    * or update drain writes a FRESH dir (the bench must time the real
    * write, and a file sink refuses to restart over a foreign commit
    * log), so the prior run's files are deleted once the next drain for
    * the SAME key begins. The dir and the session UUID are part of the
    * key: a drain against another fixture dir, or from another session,
    * must not delete a still-lazy result frame that reads this one. The
    * last dir per key lives until JVM exit (tmpfs, sink-sized). */
  private val lastSinkDirs =
    new java.util.concurrent.ConcurrentHashMap[String, Path]()

  /** Read the committed sink files back, tolerating a zero-output
    * stream: a parquet sink that committed no data files (only
    * `_spark_metadata`) makes `spark.read.parquet` throw on schema
    * inference, where a memory sink returns a schema-ful empty frame —
    * recover the schema from the streaming frame itself. The
    * zero-output case is detected by LISTING the dir for data files
    * (not by catching AnalysisException, which would also swallow
    * corrupt-file / bad-path failures as silently empty results). */
  private def readSinkOrEmpty(spark: SparkSession, out: Path,
      schema: StructType): DataFrame = {
    val hasData = {
      val s = Files.list(out)
      try s.anyMatch(p => p.getFileName.toString.startsWith("part-"))
      finally s.close()
    }
    if (hasData) spark.read.schema(schema).parquet(out.toString)
    else spark.createDataFrame(spark.sparkContext
      .emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** The one drain: starts `plan` over `f` under [[withDrainConf]],
    * processes all available input and returns the result. The output
    * mode picks the sink:
    *  - `complete`: a memory sink, SNAPSHOT into a standalone frame and
    *    dropped. A memory sink holds its full result in driver memory
    *    for the JVM's life and every run registers a fresh one (the
    *    bench's median-of-3 runs each query 3×; the accumulated sinks
    *    once inflated unrelated queries 4×), so the snapshot keeps ONE
    *    copy and frees the sink at once. Complete-mode results are
    *    aggregate-bounded by construction (#windows × #types,
    *    #segments, …).
    *  - `append`: the exactly-once parquet FILE sink (`_spark_metadata`
    *    log), for results that grow with data volume (matched pairs,
    *    closed sessions, per-doc rows): bounded by storage, never by
    *    driver memory, and read back as an ordinary parquet table.
    *  - `update`: each micro-batch's update rows appended as parquet
    *    files via foreachBatch (the file sink itself is append-only) —
    *    sound whenever the read collapses per-key emissions, the
    *    standard upsert-log pattern.
    *
    * A restart feed drains TWICE from one checkpoint: phase 1 drains
    * only the first slice, the query is STOPPED (the planned-shutdown
    * analogue of a crash after the last commit), the phase-2 hook adds
    * the rest of the input, and a NEW query resumes from the SAME
    * checkpoint. Exactly-once across the restart is what the shared
    * batch oracle then proves: the file-source log must not re-read
    * slice-1 files, the state store must restore, and the sink's
    * commit log must cover both phases' output exactly once (a
    * complete-mode sink re-emits the whole aggregate from restored
    * state). Reference analogue: the Celery pipeline's idempotent
    * redelivery contract (D7, ingest_enron.py:187-196). The checkpoint
    * survives between the phases (it is the recovery contract); it and
    * a restart feed's source dir are deleted when the drain finishes. */
  private def drain(spark: SparkSession, d: String, name: String, f: Feed,
      mode: String)(plan: => DataFrame): DataFrame =
    withDrainConf(spark, f.nIn)(plan) { df =>
      // streaming scratch goes through the shared scratch policy:
      // tmpfs when available, since checkpoint commits fsync on every
      // micro-batch (offset log, commit log, one state delta per store
      // partition), and a delete at JVM exit for what is left
      val ckpt = graft.Fs.scratchTempDir("graft-ckpt")
      val out = Option.when(mode != "complete")(
        graft.Fs.scratchTempDir("graft-sink"))
      val memSink = "stream_out_" + UUID.randomUUID.toString.replace("-", "")
      def once(): Unit = {
        val w = df.writeStream.outputMode(mode)
          .option("checkpointLocation", ckpt.toString)
        val q = out match {
          case None => w.format("memory").queryName(memSink).start()
          case Some(o) if mode == "update" =>
            w.foreachBatch { (batch: DataFrame, _: Long) =>
              batch.write.mode("append").parquet(o.toString)
            }.start()
          case Some(o) => w.format("parquet").option("path", o.toString).start()
        }
        try q.processAllAvailable()
        finally q.stop()
      }
      try {
        once()
        f.restart.foreach { case (_, addPhase2) => addPhase2(); once() }
      } finally {
        graft.Fs.deleteTree(ckpt)
        f.restart.foreach { case (dir, _) => graft.Fs.deleteTree(dir) }
      }
      out match {
        case None =>
          val res = spark.table(memSink)
          val rows = res.collect()
          spark.catalog.dropTempView(memSink)
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
        case Some(o) =>
          val key = org.apache.spark.sql.graft.Bridge.sessionUUID(spark) +
            s"|$d|$name"
          val prev = lastSinkDirs.put(key, o)
          if (prev != null) graft.Fs.deleteTree(prev)
          readSinkOrEmpty(spark, o, df.schema)
      }
    }

  /** e84: the e80 tumbling-window aggregation run as a STREAM — file
    * source over the same parquet, complete-mode memory sink, drained
    * synchronously. Output is identical to the batch twin, so it shares
    * e80's DuckDB oracle: batch/stream parity is oracle-checked. */
  def streamTumblingCounts(spark: SparkSession, d: String): DataFrame = {
    val f = feed(spark, d, "events")
    val snap = drain(spark, d, "e84", f, "complete") {
      f.open()
        .withColumn("bucket", expr("(ts div 1000) div 300000000"))
        .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
        .groupBy("bucket", "event_type")
        .agg(count(lit(1)).as("n_events"),
          (sum("cents") / 100.0).as("total_value"))
    }
    snap
      .withColumn("window_start", timestamp_seconds(col("bucket") * 300))
      .select("window_start", "event_type", "n_events", "total_value")
      .orderBy("window_start", "event_type")
  }

  /** e92: the e91 trending op as a STREAM — per-(window, type) counts
    * maintained by a streaming aggregation (complete-mode memory sink),
    * the per-window argmax computed on the tiny sink table at read
    * time. That split IS the trending-topics serving design: counters
    * live in incrementally-updated state, the top-k pick is a stateless
    * query over the aggregate, so the stream never re-sorts. Output is
    * identical to the batch twin and shares e91's DuckDB oracle —
    * stream/batch parity on the trending tier is itself oracle-checked
    * (the e84/e80 pattern). */
  def streamWindowTopEvent(spark: SparkSession, d: String): DataFrame = {
    val f = feed(spark, d, "events")
    val snap = drain(spark, d, "e92", f, "complete") {
      f.open()
        .withColumn("bucket", expr("(ts div 1000) div 300000000"))
        .groupBy("bucket", "event_type")
        .agg(count(lit(1)).as("n"))
    }
    graft.ext.EventOps.topEventFromCounts(snap)
  }

  /** e88: STREAM-STREAM interval join — clicks joined to errors of the
    * same user within the 10 minutes before each error, as two
    * watermarked file-source streams (the canonical stream-stream
    * inner-join shape: equality key + event-time band, both sides
    * buffered in watermark-bounded state). Output is the raw matched
    * pairs in append mode; shares e87's band semantics, so the DuckDB
    * twin is a plain inequality inner join — the streaming JOIN
    * operator itself is oracle-checked, like e84/e85 for windows and
    * dedup. */
  def streamRangeJoin(spark: SparkSession, d: String): DataFrame = {
    // sized to the JOINED volume: a one-column scan of event_type
    // (cheap; not footer-only like the unfiltered counts) — the join
    // state holds only the two filtered streams
    val f = feed(spark, d, "events", errorsAndClicks)
    // matched pairs grow with data volume → file sink, never the driver
    drain(spark, d, "e88", f, "append")(errorClickJoin(f, "inner"))
      .select(col("user_id"), col("error_event_id"), col("ctsus"))
      .orderBy("error_event_id", "ctsus")
  }

  private val errorsAndClicks = col("event_type").isin("error", "click")

  /** The e88/e100 interval join: each error against the same user's
    * clicks in the 10 minutes before it, the two sides opened as two
    * watermarked sources over `f`. */
  private def errorClickJoin(f: Feed, joinType: String): DataFrame = {
    def src(): DataFrame = f.open()
      .withColumn("tsus", expr("ts div 1000"))
      .withColumn("etime", timestamp_micros(col("tsus")))
    val errors = src().filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("error_event_id"),
        col("tsus").as("etsus"), col("etime").as("err_time"))
      .withWatermark("err_time", "1 hour")
    val clicks = src().filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("tsus").as("ctsus"),
        col("etime").as("click_time"))
      .withWatermark("click_time", "1 hour")
    errors.join(clicks,
      col("user_id") === col("c_user") &&
        col("click_time") >= col("err_time") - expr("INTERVAL 10 MINUTES") &&
        col("click_time") < col("err_time"),
      joinType)
  }

  /** DuckDB twin of [[streamRangeJoin]]: inequality-band inner join. */
  val streamRangeJoinSql: String =
    """WITH ev AS (SELECT event_id, epoch_us(ts) AS tsus, user_id, event_type
      |            FROM events)
      |SELECT e.user_id, e.event_id AS error_event_id, c.tsus AS ctsus
      |FROM ev e JOIN ev c
      |  ON e.event_type = 'error' AND c.event_type = 'click'
      |  AND c.user_id = e.user_id
      |  AND c.tsus >= e.tsus - 600000000 AND c.tsus < e.tsus
      |ORDER BY error_event_id, ctsus""".stripMargin

  /** e100: watermarked stream-stream LEFT OUTER interval join — errors
    * with NO click in the preceding 10 minutes (the alerting complement
    * of e88's inner join). Exercises the outer-join state-eviction
    * path: null rows exist only because the watermark passes them, so
    * the oracle equality proves the eviction semantics, not just the
    * match predicate. State is watermark-bounded on both sides exactly
    * as e88. */
  def streamUnmatchedErrors(spark: SparkSession, d: String): DataFrame = {
    val f = sentinelFeed(spark, d, errorsAndClicks)
    val snap = drain(spark, d, "e100", f, "append")(
      errorClickJoin(f, "left_outer"))
    // sentinels are excluded by their RESERVED event_id (-1/-2), not by
    // user_id sign — a fixture with legitimate negative user_ids would
    // silently lose real rows under the old user_id >= 0 filter
    snap
      .filter(col("ctsus").isNull && col("error_event_id") >= 0)
      .select("user_id", "error_event_id", "etsus")
      .orderBy("error_event_id")
  }

  /** The e101 dataflow drained from `f` — shared verbatim by the
    * one-shot drain (e101) and the restart drain (e104), so the two
    * entries prove the SAME plan under both lifecycles. (Window, type)
    * activity counts grow with the calendar span of the data → the
    * file sink (same watermark semantics, the oracle reads the
    * committed files back). */
  private def dedupActivity(spark: SparkSession, d: String, name: String,
      f: Feed): DataFrame =
    drain(spark, d, name, f, "append") {
      f.open()
        .withColumn("etime", timestamp_micros(expr("ts div 1000")))
        .withWatermark("etime", "1 hour")
        // NULL users are excluded so count(1)-after-dedup mirrors the
        // oracle's NULL-skipping count(DISTINCT user_id). Do NOT
        // filter the (negative-user) sentinels here: the optimizer
        // pushes this predicate below the watermark node to the scan,
        // and dropping sentinels there would stop the watermark from
        // ever closing the real windows (measured — every window
        // within 1h+ of the last real event went unemitted). Sentinel
        // rows instead enter the aggregation and are never emitted:
        // their window stays OPEN (watermark = sentinel − 1h < its
        // end), which append mode holds in state — this query's
        // sentinel exclusion is inherently tied to append mode.
        .filter(col("user_id").isNotNull)
        .withColumn("wstart", window(col("etime"), "5 minutes")("start"))
        .dropDuplicatesWithinWatermark("user_id", "event_type", "wstart")
        .groupBy(window(col("etime"), "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_active"))
    }.select(col("window.start").as("window_start"), col("event_type"),
      col("n_active"))
      .orderBy("window_start", "event_type")

  /** e101: watermark-bounded stream dedup chained into an APPEND-mode
    * windowed aggregation — `dropDuplicatesWithinWatermark` (state
    * expires with the watermark, the production-shape dedup for
    * unbounded streams, unlike e85/e96's grow-forever variants)
    * feeding `window()` counts of distinct (user, window) activity.
    * Exercises multi-stateful append chaining: the window emits only
    * once the watermark passes it, so the sentinel staging (e100)
    * closes every real window on a finite drain; the sentinel's own
    * window never closes and stays in state. The dedup key CONTAINS
    * the window bucket, so which physical duplicate survives is
    * irrelevant — the downstream count is deterministic and the batch
    * count-distinct oracle hash-checks it. */
  def streamDedupActivity(spark: SparkSession, d: String): DataFrame =
    dedupActivity(spark, d, "e101", sentinelFeed(spark, d))

  /** DuckDB twin of [[streamDedupActivity]]: count of distinct users
    * per (5-minute window, type). */
  val streamDedupActivitySql: String =
    """WITH ev AS (
      |  SELECT user_id, event_type,
      |    make_timestamp((epoch_us(ts) // 300000000) * 300000000)
      |      AS window_start
      |  FROM events)
      |SELECT window_start, event_type,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
      |FROM ev GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin

  /** Per-user running purchase census kept in [[ValueState]] — the
    * e102 [[StatefulProcessor]]. All accumulators are order-insensitive
    * (count / integer-cent sum / max), so the emitted census is
    * deterministic regardless of row order within the batch. */
  private class CensusProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long), (Long, Long, Long, Long)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var st: ValueState[(Long, Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long, Long)]("census",
        org.apache.spark.sql.Encoders.product[(Long, Long, Long)],
        TTLConfig.NONE)
    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, Long)],
        timerValues: TimerValues): Iterator[(Long, Long, Long, Long)] = {
      var (n, cents, maxTs) =
        if (st.exists()) st.get() else (0L, 0L, Long.MinValue)
      rows.foreach { case (_, c, ts) =>
        n += 1; cents += c; maxTs = math.max(maxTs, ts)
      }
      st.update((n, cents, maxTs))
      Iterator.single((key, n, cents, maxTs))
    }
  }

  private val purchases = col("event_type") === "purchase"

  /** The e102 transformWithState dataflow drained from `f` — shared
    * verbatim by the one-shot drain (e102) and the restart drain
    * (e106) — then the read-time collapse of the census partials: the
    * processor emits a RUNNING census per key per micro-batch; a
    * multi-batch source (maxFilesPerTrigger, extra staged files, a
    * RESTART) appends stale partials too — keep only each user's final
    * row (n_purchases grows monotonically, so max(struct) is it). */
  private def userCensus(spark: SparkSession, d: String, name: String,
      f: Feed): DataFrame = {
    import spark.implicits._
    drain(spark, d, name, f, "append") {
      f.open()
        .filter(purchases)
        .select(col("user_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          expr("ts div 1000").as("tsus"))
        .as[(Long, Long, Long)]
        .groupByKey(_._1)
        .transformWithState(new CensusProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Append())
        .toDF("user_id", "n_purchases", "total_cents", "last_tsus")
    }.groupBy("user_id")
      .agg(max(struct(col("n_purchases"), col("total_cents"),
        col("last_tsus"))).as("m"))
      .select(col("user_id"), col("m.n_purchases").as("n_purchases"),
        col("m.total_cents").as("total_cents"),
        col("m.last_tsus").as("last_tsus"))
      .orderBy("user_id")
  }

  /** e102: per-user purchase census through the `transformWithState`
    * arbitrary-state API (Spark 4.x's successor to
    * flatMapGroupsWithState: typed ValueState handles, TTL support,
    * timers — and it REQUIRES the RocksDB state store, the disk-backed
    * provider that holds 100 TB-scale state without executor-heap
    * ceilings). State here is one 3-long tuple per user; accumulators
    * are order-insensitive so the single-batch drain is deterministic
    * and the batch aggregation oracle hash-checks it. */
  def streamUserCensus(spark: SparkSession, d: String): DataFrame =
    userCensus(spark, d, "e102", feed(spark, d, "events", purchases))

  /** e106: e102's transformWithState census (the SAME
    * [[userCensus]]) stopped mid-input and resumed — the RESTART
    * proof for the RocksDB state backend specifically, the disk-backed
    * provider named as the 100 TB state path. Phase 1 writes each
    * user's partial census into RocksDB and the sink; the restart must
    * reload that state from the checkpoint's RocksDB snapshot (a
    * different recovery mechanism from e104/e105's HDFS-backed delta
    * files) so phase-2 purchases CONTINUE each count rather than
    * restart it; the read-time max(struct) collapse then yields
    * exactly the one-shot census, hash-checked by e102's batch
    * aggregation oracle. */
  def streamUserCensusRestart(spark: SparkSession, d: String): DataFrame =
    userCensus(spark, d, "e106", eventRestartFeed(spark, d, purchases))

  /** DuckDB twin of [[streamUserCensus]]: plain per-user aggregation. */
  val streamUserCensusSql: String =
    """SELECT user_id, count(*) AS n_purchases,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
      |    AS total_cents,
      |  max(epoch_us(ts)) AS last_tsus
      |FROM events WHERE event_type = 'purchase'
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** DuckDB twin of [[streamUnmatchedErrors]]: NOT EXISTS anti join. */
  val streamUnmatchedErrorsSql: String =
    """WITH ev AS (SELECT event_id, epoch_us(ts) AS tsus, user_id, event_type
      |            FROM events)
      |SELECT e.user_id, e.event_id AS error_event_id, e.tsus AS etsus
      |FROM ev e
      |WHERE e.event_type = 'error' AND NOT EXISTS (
      |  SELECT 1 FROM ev c
      |  WHERE c.event_type = 'click' AND c.user_id = e.user_id
      |    AND c.tsus >= e.tsus - 600000000 AND c.tsus < e.tsus)
      |ORDER BY error_event_id""".stripMargin

  /** e89: native session-window aggregation run as a STREAM —
    * `session_window(etime, 30 min)` per user with state-store session
    * merging, drained complete-mode, then rolled up to e82's per-user
    * shape so it SHARES e82's DuckDB oracle (stream/batch parity on
    * gap sessionization, the e84/e85 pattern applied to session
    * windows). Boundary note: `session_window` closes a session at
    * last+gap EXCLUSIVE while e82's lag-formulation keeps a gap of
    * exactly 30 min open — the fixtures contain no exact-gap pair at
    * any SF (verified), so the two formulations agree row-for-row. */
  def streamSessionWindows(spark: SparkSession, d: String): DataFrame = {
    val f = feed(spark, d, "events")
    val snap = drain(spark, d, "e89", f, "complete") {
      f.open()
        .withColumn("tsus", expr("ts div 1000"))
        .withColumn("etime", timestamp_micros(col("tsus")))
        .groupBy(col("user_id"), session_window(col("etime"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"),
          min("tsus").as("min_us"), max("tsus").as("max_us"))
    }
    // batch rollup of the drained sessions to e82's output columns
    // (integer half-up µs→ms rounding, integer-rational average — the
    // same exact-arithmetic forms as the batch twin)
    snap
      .select(col("user_id"), col("n_events"),
        expr("(2 * (max_us - min_us) + 1000) div 2000").as("dur_ms"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        sum("n_events").as("n_events"),
        expr("((2 * sum(n_events) * 10000 + count(1)) div (2 * count(1)))" +
          " / 10000.0D").as("avg_events_per_session"),
        (max("dur_ms") / 1000.0).as("longest_session_s"))
      .orderBy("user_id")
  }

  /** The e90 dataflow drained from `f` — shared verbatim by the
    * one-shot drain (e90) and the restart drain (e105). Closed sessions
    * grow with data volume → file sink, never the driver. */
  private def closedSessions(spark: SparkSession, d: String, name: String,
      f: Feed): DataFrame = {
    import spark.implicits._
    drain(spark, d, name, f, "append") {
      val ev = f.open()
        .select(col("user_id"),
          expr("ts div 1000").cast("double").as("ts"))
        .as[SessionEvent]
      sessionizeStream(ev, gap = 1800e6).toDF() // gap in µs
    }.select(col("user_id"),
        col("start").cast("bigint").as("start_us"),
        col("end").cast("bigint").as("end_us"),
        col("n_events"))
      .orderBy("user_id", "start_us")
  }

  /** e90: CLOSED sessions via custom keyed state — the
    * flatMapGroupsWithState sessionizer run as a driver query: a
    * session is emitted only when a later event arrives past the gap,
    * so each user's final (still-open) session stays in the state
    * store. Complements e89 (native session_window, ALL sessions):
    * this is the reference's unbounded-keyed-state shape (§2.8) under
    * the oracle gate — the DuckDB twin reproduces closed = all minus
    * each user's last. Timestamps flow as integer microseconds carried
    * in doubles (exact below 2^53), so gap comparisons and session
    * bounds are engine-exact. */
  def streamClosedSessions(spark: SparkSession, d: String): DataFrame =
    closedSessions(spark, d, "e90", feed(spark, d, "events"))

  /** DuckDB twin of [[streamClosedSessions]]: e82's lag/flag session
    * derivation, keeping every session except each user's last. */
  val streamClosedSessionsSql: String =
    """WITH t AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tsus,
      |    lag(epoch_us(ts)) OVER (
      |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev
      |  FROM events),
      |flagged AS (
      |  SELECT user_id, event_id, tsus,
      |    CASE WHEN prev IS NULL OR tsus - prev > 1800000000 THEN 1 ELSE 0 END
      |      AS new_sess
      |  FROM t),
      |sess AS (
      |  SELECT user_id, tsus,
      |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY tsus, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_idx
      |  FROM flagged),
      |per_session AS (
      |  SELECT user_id, sess_idx, min(tsus) AS start_us, max(tsus) AS end_us,
      |    count(*) AS n_events
      |  FROM sess GROUP BY 1, 2)
      |SELECT user_id, start_us, end_us, CAST(n_events AS BIGINT) AS n_events
      |FROM per_session p
      |WHERE sess_idx < (SELECT max(sess_idx) FROM per_session q
      |                  WHERE q.user_id = p.user_id)
      |ORDER BY user_id, start_us""".stripMargin

  /** e104: e101's dedup→windowed-agg dataflow (the SAME
    * [[dedupActivity]]) stopped mid-input and resumed from its
    * checkpoint — shares e101's batch oracle, so the hash equality
    * proves watermark, dedup-key state, and un-emitted window partials
    * all cross the restart intact. The boundary window (the 5-minute
    * bucket containing the cut) is the sharp case: its count merges
    * contributions from both phases, and a phase-2 duplicate of a
    * phase-1 row in that bucket must still be dropped by the RESTORED
    * dedup state (the key's event time is above the restored
    * watermark, so it cannot have been evicted). */
  def streamDedupActivityRestart(spark: SparkSession, d: String): DataFrame =
    dedupActivity(spark, d, "e104",
      eventRestartFeed(spark, d, sentinel = true))

  /** e105: e90's custom-keyed-state sessionizer (the SAME
    * [[closedSessions]]) stopped mid-input and resumed — shares
    * e90's batch oracle. The sharp case is every session OPEN at the
    * cut: its `SessionState` (start/last/n) lives only in the state
    * store across the restart, and phase-2 events must extend or close
    * it exactly as the one-shot drain does; the time-split staging
    * preserves per-user event order across the phase boundary, so the
    * batch lag-derivation oracle stays row-identical. */
  def streamClosedSessionsRestart(spark: SparkSession, d: String): DataFrame =
    closedSessions(spark, d, "e105", eventRestartFeed(spark, d))

  /** e85: the d50 exact-dedup aggregation run as a STREAM — the
    * "dedup a corpus as it arrives" shape: per-fingerprint keeper +
    * copy count maintained as streaming state (complete-mode memory
    * sink). Output is identical to the batch twin, so it shares d50's
    * DuckDB oracle — stream/batch parity on the dedup tier is itself
    * oracle-checked, the e84/e80 pattern applied to dedup. */
  def streamExactDedup(spark: SparkSession, d: String): DataFrame = {
    val f = feed(spark, d, "documents")
    // wsClass, not Java "\\s+": RE2 (the oracle engine) excludes \x0B
    // from \s while Java includes it — the shared class keeps stream,
    // batch, and oracle fingerprints identical on \x0B-bearing text
    val normText =
      regexp_replace(trim(lower(col("text"))), graft.ext.TextOps.wsClass, " ")
    val snap = drain(spark, d, "e85", f, "complete") {
      f.open()
        .select(col("doc_id"), md5(normText).as("fp"))
        .groupBy("fp")
        .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("n_copies"))
    }
    snap
      .select("fp", "keep_doc_id", "n_copies")
      .orderBy("keep_doc_id")
  }

  /** e99: the t50 quality filter run as a STREAM — the same row-local
    * rule evaluation ([[graft.ext.TextOps.qualityReasonOf]]) composed
    * onto a file source, summarized by a streaming complete-mode
    * aggregation. Shares t50's oracle (batch/stream parity on the
    * corpus-filtering tier). The rule stage is stateless — at scale
    * the only streaming state is the ≤5-row reason census, so this
    * runs at source throughput with constant state. */
  def streamQualityFilter(spark: SparkSession, d: String): DataFrame = {
    val f = feed(spark, d, "documents")
    val snap = drain(spark, d, "e99", f, "complete") {
      graft.ext.TextOps.qualityReasonOf(f.open())
        .groupBy("reason")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc_id"))
    }
    snap
      .select("reason", "n_docs", "min_doc_id")
      .orderBy("reason")
  }

  /** e107: the t65 chunker run as a STREAM — the stateless
    * sliding-window chunk manifest
    * ([[graft.ext.TextOps.chunkOverlapOf]]) composed onto a file source
    * and drained through the exactly-once parquet FILE sink (chunk
    * rows grow ~1.33× with input volume — never driver-resident).
    * Shares t65's oracle (batch/stream parity on the RAG-prep tier).
    * No watermark, no state: at scale this runs at source throughput
    * as a pure per-file map with constant memory. */
  def streamChunkOverlap(spark: SparkSession, d: String): DataFrame = {
    val f = feed(spark, d, "documents")
    drain(spark, d, "e107", f, "append") {
      graft.ext.TextOps.chunkOverlapOf(f.open())
    }.orderBy("doc_id", "chunk_idx")
  }

  /** e120: k80's count-min counter table maintained as a STREAM — the
    * live-census half of the sketch tier: the 3×256 cell table is a
    * pure additive aggregate, so a document feed folds into it with
    * BOUNDED state (768 integer cells) at any corpus volume — the
    * canonical "stats over a stream you cannot re-scan" shape.
    * Complete-mode snapshot drain (the result is aggregate-bounded by
    * construction — cells, never tokens, reach the driver). Shares
    * the k80 cell oracle: the streamed sketch must equal the batch
    * sketch bit-for-bit whatever the micro-batch arrival order — the
    * mergeability contract (Round16Spec pins it batch-side) exercised
    * under real incremental arrival. */
  def streamCmCells(spark: SparkSession, d: String): DataFrame =
    cmCells(spark, d, "e120", feed(spark, d, "documents"))

  /** The e120 cell dataflow drained from `f`, shared by e120 and its
    * e121 restart proof. */
  private def cmCells(spark: SparkSession, d: String, name: String,
      f: Feed): DataFrame =
    drain(spark, d, name, f, "complete") {
      graft.operators.Sketches.cmCellsOf(
        f.open()
          .select(explode(graft.ext.TextOps.tokens(col("text"))).as("tok")))
    }.orderBy("j", "c")

  /** e121: e120's CM cell maintenance stopped mid-corpus and RESUMED
    * from its checkpoint — the FIFTH restart state shape (after e104
    * window partials + dedup keys, e105 custom keyed state, e106
    * RocksDB ValueState, e118 Markov counters): a complete-mode
    * ADDITIVE aggregation, whose phase-1 partial counts live only in
    * the state store across the restart. Phase 2 resumes from the
    * same checkpoint (the file-source log must not re-read slice 1)
    * into a fresh complete-mode re-emission, so a lost or
    * double-counted phase-1 cell is unmissable: the final table must
    * equal the batch sketch bit-for-bit — shares k80's cell oracle.
    * The memory sink supports recovery in complete mode exactly
    * because each trigger re-emits the whole aggregate from restored
    * state. */
  def streamCmCellsRestart(spark: SparkSession, d: String): DataFrame =
    cmCells(spark, d, "e121", docRestartFeed(spark, d))

  /** e108: s85's BM25 retrieval with the SCORING stage run as a
    * STREAM against a FROZEN index — the serving split of a search
    * deployment: the term/df/corpus-stats sidecars are built batch-side
    * and pinned as literal frames (8 + 8 + 1 rows, a bounded collect),
    * then the document stream flows through the stateless
    * per-(query, term, doc) contribution stage
    * ([[graft.ext.SimilarityOps.bm25Contrib]] — broadcast joins only,
    * no aggregation, append-mode legal) into the exactly-once file
    * sink; the per-query top-5 is the shared read-time epilogue (the
    * e92 argmax-at-read-time precedent). Shares s85's oracle —
    * batch/stream parity on the sparse-retrieval tier. At scale this
    * scores late-arriving documents against a published index at
    * source throughput with constant memory. */
  def streamBm25(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val f = feed(spark, d, "documents")
    // pin the sidecars as literal frames so micro-batches don't
    // recompute them (bounded: |query vocab| + 1 rows) — read from the
    // persisted s87 index artifact instead of re-tokenizing the corpus
    // (same values: the artifact's df/stats are the same aggregation
    // over the same doc set, restricted here to the query vocabulary)
    val q = graft.ext.SimilarityOps.bm25QueryFrame(spark)
    val (dfreq, stats) = graft.ext.SimilarityOps.bm25Sums(spark,
      graft.ext.SimilarityOps.bm25Segments(spark, d))
    val terms = graft.ext.SimilarityOps.bm25QueryTerms
    val dfreqL = dfreq.filter(col("term").isin(terms: _*))
      .as[(String, Long)].collect().toSeq.toDF("term", "df")
    val statsL = stats.as[(Long, Long)].collect().toSeq
      .toDF("n_docs", "sum_dl")
    val contribLog = drain(spark, d, "e108", f, "append") {
      graft.ext.SimilarityOps.bm25Contrib(
        graft.ext.SimilarityOps.bm25DocLens(f.open()),
        q, dfreqL, statsL)
    }
    graft.ext.SimilarityOps.bm25Finish(
      contribLog.select("query_id", "doc_id", "contrib_u"))
  }

  /** e109: d58's STREAMING twin — the incremental-dedup absorb run
    * against a live document feed: the corpus's capped inverted index
    * (postings + the frozen over-cap hot-shingle set) is built
    * batch-side, then the stream's new-crawl docs (doc_id % 7 == 3,
    * filtered IN the stream — a feed carries everything) flow through
    * the stateless shingle explode → anti-join the broadcast hot set
    * (the stream side's capped representation must match the batch
    * twin's, which caps against the whole corpus) → stream-static
    * equi-join with the corpus postings, and each (new doc, corpus
    * doc) shingle match lands as one row in the exactly-once file
    * sink. The Jaccard scoring, best-match argmax and verdict rows
    * are d58's read-time epilogue, so the drained log hash-checks
    * against d58's oracle. At scale: per-batch join work tracks the
    * BATCH's candidate fan-out, never corpus size — the streaming
    * form of d58's O(batch) absorb contract (and of a crawler's
    * continuous-ingest dedup gate). */
  def streamIncrementalDedup(spark: SparkSession, d: String): DataFrame = {
    val f = feed(spark, d, "documents")
    val corpSh = graft.ext.DedupOps.dfCappedShingles(spark, d)
      .filter(col("doc_id") % 7 =!= 3).toDF("c_id", "sh")
    val hot = graft.ext.DedupOps.hotSet(
      graft.ext.DedupOps.hashedShingles(spark, d))
    val matchLog = drain(spark, d, "e109", f, "append") {
      graft.ext.DedupOps.hashedShinglesOf(
        f.open()
          .filter(col("doc_id") % 7 === 3))
        .join(broadcast(hot), Seq("sh"), "left_anti")
        // the USING join moves `sh` first — restore before renaming
        .select(col("doc_id").as("n_id"), col("sh"))
        .join(corpSh, "sh")
        .select("n_id", "c_id")
    }
    graft.ext.DedupOps.incrDedupFinish(spark, d,
      matchLog.groupBy("n_id", "c_id").agg(count(lit(1)).as("inter")))
  }

  /** The substring gate dataflow of e122/e123/e126/e131: the feed's
    * probe docs (`doc_id % mod == mod - 1`, filtered IN the stream)
    * through the stateless window stage into the stream-static
    * equi-join with the serving index `idx`, drained to the file sink;
    * run stitching and the verdicts are the read-time epilogue. */
  private def substringGate(spark: SparkSession, d: String, name: String,
      f: Feed, idx: DataFrame, mod: Int): DataFrame = {
    val probe = col("doc_id") % mod === mod - 1
    val pairLog = drain(spark, d, name, f, "append") {
      graft.ext.DedupOps.windowFrame(f.open().filter(probe))
        .select(col("hw"), col("doc_id"), col("pos").as("pb"))
        .join(idx, Seq("hw"))
        .select("doc_id", "base_id", "pb", "pa")
    }
    graft.ext.DedupOps.incrSubstringFinish(spark, d, pairLog, probe)
  }

  /** e122: d66's STREAMING twin — the exact-substring dedup gate on a
    * live document feed: the corpus's capped window INDEX (d66's
    * base-segment artifact) is built batch-side as the static join
    * side, the stream's new-crawl docs (doc_id % 5 == 4, filtered IN
    * the stream) flow through the STATELESS window stage — one
    * codegen'd RollingWindowHash64 array per doc, posexploded — into
    * the stream-static equi-join on the window hash, and each matched
    * (batch doc, base doc, positions) window lands as one row in the
    * exactly-once file sink. Maximal-run stitching and the per-doc
    * keep/drop verdict are d66's read-time epilogue, so the drained
    * log hash-checks against d66's oracle. Zero streaming state; at
    * scale each incoming document is gated against the persisted
    * index at source throughput — per-batch work is the batch's
    * window fan-out, never corpus size (d58→e109's contract at
    * substring granularity). */
  def streamSubstringGate(spark: SparkSession, d: String): DataFrame =
    substringGate(spark, d, "e122", feed(spark, d, "documents"),
      graft.ext.DedupOps.baseWindowIndex(spark, d), 5)

  /** e123: e122's substring ingest gate stopped MID-FEED and resumed
    * from its checkpoint — the restart proof for the frozen-sidecar +
    * stateless-stage family itself (the five prior restart shapes —
    * e104/e105/e106/e118/e121 — all carry state stores; here the
    * recovery contract is the file-source offset log plus the sink's
    * `_spark_metadata` commit log ALONE): phase 1 drains the even-doc
    * slice through the window→index join into the exactly-once file
    * sink, the query STOPS, the odd slice arrives, and a NEW query
    * resumes from the same checkpoint. The parity split interleaves
    * batch docs across the cut (the e121 harshest-arrival rationale —
    * no watermark semantics to lean on). A re-read slice-1 file would
    * duplicate matched-window rows and shift every stitched island's
    * row_number (n_runs / best_run_tokens move); a dropped file loses
    * runs — so sharing d66's oracle hash-checks exactly-once across
    * the restart. */
  def streamSubstringGateRestart(spark: SparkSession, d: String): DataFrame =
    substringGate(spark, d, "e123", docRestartFeed(spark, d),
      graft.ext.DedupOps.baseWindowIndex(spark, d), 5)

  /** e126: d73's STREAMING twin — the substring ingest gate on a live
    * feed served from the ABSORBED index (base + delta SEGMENTS with
    * the hot cap re-derived from their summed censuses): the grown
    * serving index is assembled batch-side as the static join side,
    * the stream's probe docs (doc_id % 10 == 9, filtered IN the
    * stream) flow through the stateless RollingWindowHash64 stage into
    * the stream-static equi-join, matched windows land in the
    * exactly-once file sink, and run stitching + verdicts are d73's
    * read-time epilogue — sharing d73's rebuild-form oracle. The
    * crawler loop this closes: e122 gates against the base artifact,
    * d73's absorb folds an accepted batch in as an O(batch) segment,
    * and e126 is the SAME gate one generation later, now witnessing
    * runs against the just-absorbed half — zero streaming state
    * throughout. */
  def streamAbsorbedGate(spark: SparkSession, d: String): DataFrame =
    substringGate(spark, d, "e126", feed(spark, d, "documents"),
      graft.ext.DedupOps.absorbedWindexIdx(spark, d), 10)

  /** e131: d75's STREAMING twin — e126's crawler gate one LSM
    * GENERATION later: the serving index is the post-turnover
    * assembly (d74's folded artifact ∪ d75's delta2 segment, hot cap
    * re-derived from their summed censuses) as the static join side,
    * and the stream's probe docs (doc_id % 20 == 19) flow through the
    * identical stateless stage. With e122 (base gen), e126 (base +
    * delta), and this entry (fold + next delta), the crawl loop is
    * streaming-proven at every point of the artifact lifecycle —
    * whatever the LSM clock says, the live gate is the same zero-state
    * dataflow against the latest serving assembly. Shares d75's
    * twice-grown rebuild oracle. */
  def streamRegenGate(spark: SparkSession, d: String): DataFrame =
    substringGate(spark, d, "e131", feed(spark, d, "documents"),
      graft.ext.DedupOps.regenWindexIdx(spark, d), 20)

  /** The frozen reference LM pinned as LITERAL frames so micro-batches
    * don't re-derive it from corpus scans (the e108 sidecar
    * discipline; bounded: |ref vocab|² / |ref vocab| / 1 rows on this
    * fixture — a web-scale LM dictionary would instead stay a
    * persisted parquet artifact joined stream-static, the d70 shape).
    * Shared by e127 and its e128 restart proof, which must score
    * against the identical sidecar. */
  private type Lm = (DataFrame, DataFrame, DataFrame)

  private def pplRefLmPinned(spark: SparkSession, d: String): Lm =
    // served from the persisted ppl-scored artifact's LM tables (same
    // rows as the per-call reference aggregation; the derive cost is
    // the attributed cache_ppl_scored warm)
    pinLm(spark, graft.ext.TextOps.pplRefLmCached(spark, d))

  /** Collects the (c2, c1, V) tables into literal frames. */
  private def pinLm(spark: SparkSession, lm: Lm): Lm = {
    import spark.implicits._
    val (c2r, c1r, vr) = lm
    (c2r.as[(String, String, Long)].collect().toSeq.toDF("w1", "w2", "c2"),
      c1r.as[(String, Long)].collect().toSeq.toDF("w1", "c1"),
      vr.as[Long].collect().toSeq.toDF("v"))
  }

  /** The per-bigram score contributions of `f`'s docs against the
    * pinned `lm`, drained to the file sink (e127, e128, e130, e134). */
  private def pplLog(spark: SparkSession, d: String, name: String, f: Feed,
      lm: Lm): DataFrame = {
    val (c2, c1, v) = lm
    drain(spark, d, name, f, "append") {
      graft.ext.TextOps.pplScoreRows(
        graft.ext.TextOps.bigramRowsOf(f.open()),
        c2, c1, v, df => broadcast(df))
        .select("doc_id", "lpm")
    }
  }

  /** e127: t75's STREAMING twin — perplexity filtering of a live doc
    * feed against the FROZEN reference LM: the reference tables
    * (vocabulary-bounded c2/c1/V, the en-slice add-one bigram MLE)
    * are built batch-side as static join sides, the stream's docs
    * flow through the stateless bigram explode + reference joins +
    * micro-nat scoring stage, and each bigram's contribution lands as
    * one row in the exactly-once file sink (the e108 contribution-log
    * discipline: a per-doc aggregate in the stream would be stateful;
    * the per-doc average + τ verdict are t75's read-time epilogue).
    * Shares t75's oracle. At scale this is the crawl-time
    * quality gate: each incoming document scored against a published
    * reference model at source throughput, zero streaming state. */
  def streamPplFilter(spark: SparkSession, d: String): DataFrame = {
    val f = feed(spark, d, "documents")
    graft.ext.TextOps.pplFinish(spark, d,
      pplLog(spark, d, "e127", f, pplRefLmPinned(spark, d)))
  }

  /** e128: e127 stopped MID-FEED and resumed from its checkpoint — the
    * restart proof for the FROZEN-MODEL SCORER family (e125/e127),
    * the last streaming-recovery shape uncovered after e123 proved
    * the frozen-sidecar GATE: like e123 the recovery contract is the
    * file-source offset log plus the file sink's `_spark_metadata`
    * commit log alone (zero state stores — the model is a literal
    * broadcast), but the logged rows here are per-BIGRAM score
    * contributions, so a re-read slice-1 file would double-count
    * every affected doc's Σlpm and n (shifting avg_nlp_micro and
    * flipping τ verdicts) while a dropped file loses evidence —
    * sharing t75's oracle hash-checks exactly-once across the
    * restart at contribution granularity. The parity split
    * interleaves docs across the cut (the e121 harshest-arrival
    * rationale). */
  def streamPplFilterRestart(spark: SparkSession, d: String): DataFrame = {
    val f = docRestartFeed(spark, d)
    graft.ext.TextOps.pplFinish(spark, d,
      pplLog(spark, d, "e128", f, pplRefLmPinned(spark, d)))
  }

  /** e130: t78's STREAMING twin — the CALIBRATED perplexity filter at
    * crawl time: the reference LM is pinned as the e127 literal
    * sidecar, and τ — derived batch-side from the standing corpus's en
    * reference slice as its exact p95 under that LM (t77's rule, via
    * the segmented exact-rank machinery, never a single-partition
    * sort) — freezes as ONE scalar literal (the e129 frozen-sidecar
    * pattern, smallest possible: the calibration loop's entire output
    * is one number). The stream's docs flow through the stateless
    * per-bigram scoring stage into the exactly-once contribution log
    * (the e127/e128 granularity); the per-doc average and the
    * derived-τ verdict are the read-time epilogue. Zero state. Shares
    * t78's oracle: the streamed literal-τ stage and the batch
    * broadcast-singleton plan must produce one hash — which also
    * hash-pins that the frozen scalar EQUALS the in-query derivation
    * (derive-at-cadence ≡ derive-in-pass, the production contract: τ
    * re-derives when the model artifact refreshes, the gate runs on
    * the feed). */
  def streamPplFilterCalibrated(spark: SparkSession, d: String)
      : DataFrame = {
    val f = feed(spark, d, "documents")
    val lm = pplRefLmPinned(spark, d)
    // the frozen scalar sidecar, guarded like e129's wmax: an EMPTY
    // reference slice derives no τ — batch t78's crossJoin then yields
    // zero rows, so the twin returns the same empty frame without
    // draining anything
    // the batch-side τ derivation reads the persisted cache_ppl_scored
    // artifact (round-16: the attributed-warm treatment of the shared
    // scoring pass — bit-identical to scoring against the pinned
    // literal LM, since both derive from the same frozen reference
    // tables); pplTauFrame's multi-pass machinery re-reads a
    // |documents|-row parquet, so no checkpoint is needed
    val tauRows = graft.ext.TextOps.pplTauFrame(
      graft.ext.TextOps.pplScoredCached(spark, d))
      .collect()
    val epilogue = (scored: DataFrame, tauC: org.apache.spark.sql.Column) =>
      graft.ext.TextOps.pplScoredDocs(
        graft.Tables.documents(spark, d), scored)
        .withColumn("tau_derived", tauC)
        .withColumn("keep", col("avg_nlp_micro").isNotNull &&
          col("avg_nlp_micro") <= col("tau_derived"))
        .orderBy("doc_id")
    if (tauRows.isEmpty)
      epilogue(spark.range(0)
        .select(col("id").as("doc_id"), col("id").as("lpm")),
        lit(null).cast("long")).limit(0)
    else {
      val tauV = tauRows(0).getLong(0)
      epilogue(pplLog(spark, d, "e130", f, lm), lit(tauV))
    }
  }

  /** The feed's docs scored row-locally against the literal `model`,
    * drained to the file sink (e125, e132, e133). */
  private def dsirScore(spark: SparkSession, d: String, name: String,
      f: Feed, model: Array[Long]): DataFrame =
    drain(spark, d, name, f, "append")(
      graft.ext.TextOps.dsirScoreOf(f.open(), model)).orderBy("doc_id")

  /** e125: t74's DSIR scorer run as a STREAM against the FROZEN
    * importance model — the production data-selection shape: the
    * estimator (one batch aggregation over the standing corpus,
    * [[graft.ext.TextOps.dsirLr]]) runs ahead of time; the arriving
    * feed is scored ROW-LOCALLY against the dense 256-cell literal
    * model (one O(1) array index per feature — no join, no shuffle,
    * no state, constant memory at any feed volume), the d70
    * serve-from-artifact discipline applied to data selection. Shares
    * t74's oracle: the streamed literal-array fold and the batch
    * broadcast-join + doc_id-exchange plan are two different physical
    * strategies that must produce one hash — model collection is
    * bounded by the bucket count, never the corpus. */
  def streamDsirScore(spark: SparkSession, d: String): DataFrame =
    // served from the persisted lr table (bit-identical to the
    // per-call rebuild — same rows; the derive cost is the attributed
    // cache_dsir_manifest warm)
    dsirScore(spark, d, "e125", feed(spark, d, "documents"),
      graft.ext.TextOps.dsirModelCached(spark, d))

  /** e132: e125's crawl-time DSIR gate served from the MAINTAINED
    * estimator — the absorb→pin→serve composition proof (round-15
    * verdict missing #2): e125 pins its 256-cell literal sidecar from
    * the full-rebuild model, which is correct but leaves the
    * production claim "the gate re-pins from the refreshed artifact"
    * unexercised; here the sidecar derives from
    * [[graft.ext.TextOps.dsirModelAbsorbed]] — the base + delta count
    * SEGMENTS' per-bucket sum run through the identical smoothing
    * tail (t79's serving state, O(segments · m) rows, never a corpus
    * scan) — and the arriving feed is scored row-locally against it.
    * Zero new state, zero joins; shares t74's grown-corpus oracle,
    * which hash-pins the whole composition: segment sum ≡ rebuild
    * (t79's claim) AND literal-pin ≡ broadcast-plan (e125's claim)
    * must BOTH hold for the stream's output to match the batch
    * rebuild's hash — s80's save→load closure, applied to the model
    * refresh cadence. */
  def streamDsirScoreMaintained(spark: SparkSession, d: String): DataFrame =
    dsirScore(spark, d, "e132", feed(spark, d, "documents"),
      graft.ext.TextOps.dsirModelAbsorbed(spark, d))

  /** e133: the crawl-time DSIR gate one GENERATION later — e132's
    * absorb→pin→serve composition extended through the FOLD: the
    * 256-cell literal sidecar derives from
    * [[graft.ext.TextOps.dsirModelTurnover]] (folded gen-1 segment ⊎
    * the re-admitted cohort's segment, summed and smoothed —
    * O(segments · m), never a corpus scan), so the pinned model has
    * lived the ENTIRE lifecycle — base build, delta absorb, cohort
    * retract, generation fold, post-fold absorb — before a single
    * stream row is scored. Shares t74's full-rebuild oracle (t84's):
    * the hash pins fold ≡ rebuild AND pin ≡ broadcast-plan in one
    * check. With e125 (rebuild pin), e132 (absorbed pin), and this
    * entry (post-turnover pin), the serving path is proven at every
    * lifecycle state of the model artifact — the e122/e126/e131
    * ladder, closed on the model tier. */
  def streamDsirScoreTurnover(spark: SparkSession, d: String): DataFrame =
    dsirScore(spark, d, "e133", feed(spark, d, "documents"),
      graft.ext.TextOps.dsirModelTurnover(spark, d))

  /** e134: e133's twin on the SECOND model artifact — e127's
    * crawl-time perplexity gate with the reference-LM literal sidecar
    * pinned from the POST-TURNOVER tables
    * ([[graft.ext.TextOps.pplLmTurnover]]: folded gen-1 c2 ⊎ the
    * re-admitted cohort's segment, c1 and V derived FROM the merged
    * table — t83's V-counts-keys rule, so the fold's zero-row drop is
    * load-bearing in the SIDECAR: one stale zero key would shift V
    * and every smoothed literal). The stream stage is e127's
    * verbatim — stateless bigram explode + broadcast-literal joins +
    * micro-nat contribution log; shares t75's oracle (t86's), which
    * hash-pins fold ≡ rebuild ∧ literal-pin ≡ table-join-plan across
    * the restartable exactly-once drain. One erasure request now
    * provably reaches BOTH crawl-time gates through their folded
    * generations. */
  def streamPplFilterTurnover(spark: SparkSession, d: String)
      : DataFrame = {
    val f = feed(spark, d, "documents")
    val lm = pinLm(spark, graft.ext.TextOps.pplLmTurnover(spark, d))
    graft.ext.TextOps.pplFinish(spark, d, pplLog(spark, d, "e134", f, lm))
  }

  /** e135: the COMPOSED release gate at crawl time — t85/t87's
    * decision surface as ONE streaming pass, the engine's flagship
    * twin. Each of the three verdict stages is already stream-proven
    * alone (quality e130, routing e115, selection e129); this entry
    * proves they compose in a single query over a single source with
    * zero state: the arriving doc fans into three STATELESS
    * contribution branches — per-bigram LM scores against the e127
    * literal sidecar, per-passage routing rows against the broadcast
    * benchmark set (t48 bucket riding along), and the per-doc
    * row-local DSIR coin verdict against the frozen (model, wmax)
    * sidecar — tagged with a `kind` discriminator and unioned into
    * ONE exactly-once file sink (heterogeneous granularities in one
    * contribution log: the e108 discipline generalized). The per-doc
    * verdicts (τ average, max-hit routing, coin) and the AND-composed
    * `released` flag are the read-time epilogue, sharing t87's nested
    * three-stage oracle — so the hash pins per-stage batch/stream
    * parity AND the composition itself in one check. At scale: the
    * crawler makes the complete ship/quarantine/drop decision per
    * document at source throughput with constant memory — the
    * re-derivation cadence (model refresh, τ re-pin, benchmark
    * update) stays batch-side, exactly the production split. */
  def streamReleaseGate(spark: SparkSession, d: String): DataFrame = {
    val f = feed(spark, d, "documents")
    // frozen sidecars, all derived batch-side, all bounded: the LM
    // literals (vocab-bounded), the one-scalar τ, the benchmark
    // passage-hash set (bounded by construction), the 256-cell model,
    // the normalization max
    val (c2, c1, v) = pplRefLmPinned(spark, d)
    val tauRows = graft.ext.TextOps.pplTauFrame(
      graft.ext.TextOps.pplScoredCached(spark, d)).collect()
    val bench = benchPassageHits(spark, d)
    // model and normalization max pinned from the persisted selection
    // artifact (same lr rows / same weight rows as the per-call derive)
    val model = graft.ext.TextOps.dsirModelCached(spark, d)
    val wmaxRow = graft.ext.TextOps.dsirManifestFrame(spark, d)
      .agg(max("w_micro")).collect()(0)
    val wmaxV = if (wmaxRow.isNullAt(0)) 0L else wmaxRow.getLong(0)
    if (tauRows.isEmpty)
      // an empty reference slice derives no τ — batch t87's inner
      // join with the empty quality frame is empty; degrade the same
      // way without draining (the e130 guard)
      return graft.Tables.documents(spark, d).select("doc_id", "source")
        .withColumn("keep_q", lit(false))
        .withColumn("split", lit(""))
        .withColumn("sampled", lit(false))
        .withColumn("released", lit(false))
        .limit(0)
    val tauV = tauRows(0).getLong(0)
    val log = drain(spark, d, "e135", f, "append") {
      val src = f.open()
      val lp = graft.ext.TextOps.pplScoreRows(
          graft.ext.TextOps.bigramRowsOf(src),
          c2, c1, v, df => broadcast(df))
        .select(col("doc_id"), lit("lp").as("kind"),
          col("lpm").as("a"), lit(null).cast("long").as("b"))
      val rt = contamRouteLog(src, bench)
        .select(col("doc_id"), lit("rt").as("kind"),
          col("bucket").as("a"), col("hit").as("b"))
      val dc = graft.ext.TextOps.dsirManifestStage(
          graft.ext.TextOps.dsirScoreOf(src, model)
            .select("doc_id", "lang", "w_micro"),
          lit(wmaxV), lit(Long.MaxValue), lit(Long.MaxValue))
        .select(col("doc_id"), lit("dc").as("kind"),
          when(col("sampled"), 1L).otherwise(0L).as("a"),
          lit(null).cast("long").as("b"))
      lp.unionByName(rt).unionByName(dc)
    }
    val keepQ = graft.ext.TextOps.pplScoredDocs(
        graft.Tables.documents(spark, d),
        log.filter(col("kind") === "lp")
          .select(col("doc_id"), col("a").as("lpm")))
      .select(col("doc_id"),
        (col("avg_nlp_micro").isNotNull &&
          col("avg_nlp_micro") <= lit(tauV)).as("keep_q"))
    val routed = log.filter(col("kind") === "rt")
      .groupBy("doc_id").agg(max("b").as("bad"), max("a").as("bucket"))
      .withColumn("split",
        when(graft.ext.DedupOps.inBench, "benchmark")
          .when(col("bad") === 1L, "quarantined")
          .when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "validation")
          .otherwise("test"))
      .select("doc_id", "split")
    val sampled = log.filter(col("kind") === "dc")
      .select(col("doc_id"), (col("a") === 1L).as("sampled"))
    graft.Tables.documents(spark, d).select("doc_id", "source")
      .join(keepQ, Seq("doc_id"))
      .join(routed, Seq("doc_id"))
      .join(sampled, Seq("doc_id"))
      .withColumn("released",
        col("keep_q") && col("split") === "train" && col("sampled"))
      .orderBy("doc_id")
  }

  /** e129: t76's STREAMING twin — the DSIR resample gate at crawl
    * time: the importance model (dense 256-cell array), the
    * normalization max, and the k85-sketch budget cutoff are all
    * FROZEN batch-side from the standing corpus (the cutoff is two
    * scalars — the sketch's answer item — so the sidecar here is the
    * smallest possible: three literals), and the arriving docs flow
    * through the stateless row-local stage: dense-array score fold →
    * md5 coin → acceptance verdict → budget verdict. Zero joins, zero
    * state, constant memory at any feed volume — the complete
    * data-selection DECISION (both t76 modes) made per document at
    * source throughput, which is the production crawl shape: the
    * estimator and cutoff re-derive on a cadence (batch), the gate
    * runs on the feed (stream). Shares t76's oracle: the streamed
    * literal-threshold stage and the batch broadcast-crossJoin plan
    * must produce one hash. */
  def streamDsirResample(spark: SparkSession, d: String): DataFrame = {
    val f = feed(spark, d, "documents")
    val model = graft.ext.TextOps.dsirModelCached(spark, d)
    // the batch weight frame feeds both frozen thresholds — served
    // from the persisted selection artifact (same weight rows as the
    // per-call derive; a parquet read needs no checkpoint to feed two
    // consumers)
    val w = graft.ext.TextOps.dsirManifestFrame(spark, d)
      .select("doc_id", "lang", "w_micro")
    // degenerate-input guard (round-14 advice): an EMPTY corpus leaves
    // max() null and getLong would throw — fall back to the 0L sentinel
    // so the twin degrades like batch t76 (whose wmax singleton simply
    // carries null into a frame with no rows to score; here no rows
    // arrive either, so the sentinel only keeps the collect from
    // throwing before the no-op drain)
    val wmaxRow = w.agg(max("w_micro")).collect()(0)
    val wmaxV = if (wmaxRow.isNullAt(0)) 0L else wmaxRow.getLong(0)
    val cutRow = graft.ext.TextOps.dsirCutFrame(w).collect()(0)
    val (cutW, cutUid) = (cutRow.getLong(0), cutRow.getLong(1))
    drain(spark, d, "e129", f, "append") {
      graft.ext.TextOps.dsirManifestStage(
        graft.ext.TextOps.dsirScoreOf(f.open(), model)
          .select("doc_id", "lang", "w_micro"),
        lit(wmaxV), lit(cutW), lit(cutUid))
    }.orderBy("doc_id")
  }

  /** e110: v75's STREAMING twin — JSONL quarantine ingest on a live
    * feed (the Kafka-consumer shape of corpus intake): the staged
    * JSONL corpus (documents + 3 planted malformed lines) arrives as
    * a text STREAM, each line is parsed against the explicit shared
    * schema with `from_json` (null struct / null key = quarantine —
    * the stream-side spelling of PERMISSIVE's `_corrupt_record`),
    * and the stateless (source, n_chars) classification rows land in
    * the exactly-once file sink; the per-source census is the
    * read-time epilogue. Shares v75's oracle — batch/stream parity
    * on the quarantine contract itself: both paths must classify
    * exactly the same 3 lines corrupt and parse every valid row
    * losslessly. At scale: pure per-line map at source throughput,
    * constant memory, bad records never kill the stream (D5's
    * error-isolation contract on an unbounded source). */
  def streamJsonlQuarantine(spark: SparkSession, d: String): DataFrame = {
    // the staged JSONL lines, sized like the documents feed
    val dir = graft.ingest.Validation.stagedJsonl(spark, d)
    val f = Feed(inCount(spark, d, "documents", lit(true)),
      () => spark.readStream.text(dir))
    val log = drain(spark, d, "e110", f, "append") {
      f.open()
        .select(from_json(col("value"),
          graft.ingest.Validation.jsonlSchema).as("j"))
        .select(
          when(col("j").isNull || col("j.doc_id").isNull, lit("_corrupt"))
            .otherwise(col("j.source")).as("src"),
          coalesce(col("j.n_chars"), lit(0L)).as("n_chars"))
    }
    log.groupBy("src").agg(
        count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .select(col("src").as("source"), col("n_docs"), col("sum_chars"))
      .orderBy("source")
  }

  /** The frozen benchmark passage-hash set (t68/t70's, built
    * batch-side) tagged `is_hit` = 1 — the broadcast sidecar that
    * e111, e115 and e135 LEFT-join their streamed passages against. */
  private def benchPassageHits(spark: SparkSession, d: String): DataFrame =
    graft.ext.DedupOps.benchKeys(
        graft.ext.DedupOps.passageHashes(graft.Tables.documents(spark, d)),
        "ph")
      .withColumn("is_hit", lit(1L))

  /** e111: t68's STREAMING twin — passage-level benchmark
    * decontamination of a live document feed: the benchmark's
    * 10-token passage-hash set is built batch-side (tiny by
    * construction → broadcast), the stream's training docs flow
    * through the stateless passage explode → LEFT join against the
    * broadcast set, and each passage lands in the exactly-once file
    * sink as a (doc_id, is_hit) row; the per-doc census (n_pass,
    * n_hit, exact-ppm contamination — zero-hit docs included) is the
    * read-time epilogue. Shares t68's oracle — batch/stream parity
    * on the contamination gate itself. At scale: a crawler checks
    * each incoming document against the frozen benchmark set at
    * source throughput with constant memory, the same
    * frozen-sidecar-plus-stateless-stage shape as e108/e109/e110. */
  def streamPassageDecontam(spark: SparkSession, d: String): DataFrame = {
    val f = feed(spark, d, "documents")
    val bench = benchPassageHits(spark, d)
    val log = drain(spark, d, "e111", f, "append") {
      graft.ext.DedupOps.passageHashes(
        f.open()
          .filter(!graft.ext.DedupOps.inBench))
        .join(broadcast(bench), Seq("ph"), "left")
        .select(col("doc_id"), coalesce(col("is_hit"), lit(0L)).as("hit"))
    }
    log.groupBy("doc_id").agg(
        count(lit(1)).as("n_pass"), sum("hit").as("n_hit"))
      .select(col("doc_id"), col("n_pass"), col("n_hit"),
        expr("n_hit * 1000000 div n_pass").as("contam_ppm"))
      .orderBy("doc_id")
  }

  /** e115: t70's STREAMING twin — the contamination-SAFE split gate on
    * a live document feed. The benchmark's 10-token passage-hash set
    * is built batch-side (tiny by construction → broadcast); every
    * streamed doc explodes to passage hashes WITH its routing fields
    * (n_chars and the t48 salted split bucket) riding along — a
    * zero-token doc keeps one null-passage row so the census never
    * loses it — and each (doc_id, n_chars, bucket, hit) row lands in
    * the exactly-once file sink; the routing decision (benchmark /
    * quarantined / stable home bucket) and the split census are the
    * read-time epilogue. Shares t70's oracle — batch/stream parity on
    * the ROUTING contract itself: a doc the batch gate quarantines
    * must be quarantined by the live gate, and every clean doc must
    * take the same salted-hash home. At scale: the crawler routes
    * each incoming doc at source throughput with constant memory
    * (frozen broadcast sidecar + stateless explode, the e108–e112
    * shape); re-freezing the sidecar after a benchmark refresh moves
    * docs only between quarantine and their fixed home, never across
    * train/test. */
  def streamContamSplit(spark: SparkSession, d: String): DataFrame = {
    val f = feed(spark, d, "documents")
    val bench = benchPassageHits(spark, d)
    val log = drain(spark, d, "e115", f, "append") {
      contamRouteLog(f.open(), bench)
    }
    contamRouteCensus(log)
  }

  /** The e115 per-passage routing log over an arbitrary (streaming or
    * batch) documents frame — exposed so the spec can drive the
    * zero-token null-passage path the fixture corpus never exercises. */
  private[graft] def contamRouteLog(
      docs: DataFrame, bench: DataFrame): DataFrame = {
    import graft.ext.TextOps.{md5Long, tokens}
    docs
      .select(col("doc_id"), col("n_chars"),
        (md5Long(concat(lit("split:"), col("doc_id").cast("string")))
          % 100).as("bucket"),
        tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("n_chars"), col("bucket"),
        explode(when(size(col("toks")) > 0, expr(
          "transform(sequence(0, (size(toks)-1) div 10)," +
            " i -> concat_ws(' ', slice(toks, i*10+1, 10)))"))
          .otherwise(array(lit(null).cast("string")))).as("passage"))
      .select(col("doc_id"), col("n_chars"), col("bucket"),
        md5Long(col("passage")).as("ph"))
      .join(broadcast(bench), Seq("ph"), "left")
      .select(col("doc_id"), col("n_chars"), col("bucket"),
        coalesce(col("is_hit"), lit(0L)).as("hit"))
  }

  /** The e115 read-time epilogue: per-doc verdict → t70 routing →
    * split census (same output contract as the batch twin). */
  private[graft] def contamRouteCensus(log: DataFrame): DataFrame =
    log.groupBy("doc_id", "n_chars", "bucket")
      .agg(max("hit").as("bad"))
      .withColumn("split",
        when(graft.ext.DedupOps.inBench, "benchmark")
          .when(col("bad") === 1L, "quarantined")
          .when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "validation")
          .otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        min("doc_id").as("min_doc_id"))
      .orderBy("split")

  /** e116: t72's STREAMING twin — the mixture-sampling gate applied at
    * ingest: the #sources-row plan (t62's targets + repeat factors) is
    * built batch-side and broadcast as a frozen sidecar, every
    * streamed doc takes its copy count from the shared stateless
    * assignment (integer epochs + the deterministic md5 coin — no RNG
    * state, so replays and restarts assign identically), and the
    * per-doc (source, n_tok, target, copies) rows land in the
    * exactly-once file sink; the per-source realization census is the
    * read-time epilogue. Shares t72's oracle — batch/stream parity on
    * the sampling decision itself. At scale: a crawler materializes
    * training copies at source throughput with constant memory (one
    * row per doc, no explode, no stateful operator), and re-freezing
    * the plan after a corpus refresh flips docs in coin order. */
  def streamMixtureRealize(spark: SparkSession, d: String): DataFrame = {
    val f = feed(spark, d, "documents")
    val plan = graft.ext.TextOps
      .mixturePlanOf(graft.Tables.documents(spark, d))
      .select("source", "target_tokens", "repeat_x1000")
    val log = drain(spark, d, "e116", f, "append") {
      graft.ext.TextOps.mixtureCopiesWith(f.open(), plan)
    }
    graft.ext.TextOps.mixtureCensusOf(log)
  }

  /** e117: d63's STREAMING twin — semantic decontamination as a
    * crawl-time gate: the benchmark embedding set (bounded by
    * construction — an eval suite, not a corpus) is built batch-side
    * and broadcast as the frozen sidecar, every streamed corpus
    * vector flows through the STATELESS micro-cosine scoring stage
    * (row-local against the broadcast — append-mode legal, no
    * stateful operator), and the (vec_id, b_id, cos_u) contribution
    * rows land in the exactly-once file sink; the per-vector
    * max/argmax + verdict are d63's read-time epilogue, so the
    * drained log hash-checks against d63's oracle. At scale: each
    * incoming embedding is gated at source throughput with constant
    * memory, and re-freezing the sidecar after a benchmark refresh
    * re-scores only future arrivals — the e108–e116 shape on the
    * dense tier. */
  def streamSemanticDecontam(spark: SparkSession, d: String): DataFrame = {
    val f = feed(spark, d, "embeddings")
    val bench = graft.ext.DedupOps
      .normedVectors(graft.Tables.embeddings(spark, d))
      .filter(col("vec_id") % 37 === 2)
      .toDF("b_id", "bv", "bn")
    val log = drain(spark, d, "e117", f, "append") {
      graft.ext.DedupOps.contamScores(
        graft.ext.DedupOps.normedVectors(f.open())
          .filter(col("vec_id") % 37 =!= 2),
        bench)
    }
    graft.ext.DedupOps.contamVerdict(log)
  }

  /** e119: d64's STREAMING twin — the ingest-time semantic-dedup gate
    * run continuously against a live embedding feed (the crawler's
    * dense-tier absorb gate, closing the twin symmetry: d58→e109,
    * m79→e112, t70→e115, t72→e116, d63→e117, and now d64→e119). The
    * frozen s81 artifact is loaded batch-side: its coarse centroids
    * collect to a bounded LITERAL (the quantizer's K rows) and its
    * base cell members (vectors + norms) form the static join side.
    * Each streamed batch vector is cell-assigned by the STATELESS
    * literal-fold argmin ([[graft.ext.SimilarityOps.kmAssignStateless]]
    * — kmAssign's groupBy argmin would be a stateful aggregation,
    * illegal mid-pipeline in append mode; the fold is a pure
    * projection with the identical integer d2 and tie rule), then
    * LEFT-OUTER joins its cell's base members with the τ test inside
    * the join condition — τ-matches and one null row per clean vector
    * land in the exactly-once file sink; keep/drop is the read-time
    * epilogue, so the drained log hash-checks against d64's oracle.
    * At scale: per-batch work is |batch| × touched-cell sizes — never
    * corpus×corpus — state is ZERO (no stateful operator), and
    * re-freezing the artifact after an s81 absorb re-gates only
    * future arrivals, exactly the batch gate's contract. */
  def streamSemanticGate(spark: SparkSession, d: String): DataFrame = {
    val f = feed(spark, d, "embeddings")
    val cut = graft.ext.SimilarityOps.incrBase(spark, d)
    val centSeq = graft.ext.SimilarityOps.gateCentroids(spark, d)
    val base = graft.ext.DedupOps.gateBaseMembers(spark, d)
    val log = drain(spark, d, "e119", f, "append") {
      graft.ext.DedupOps.gateScores(
        graft.ext.SimilarityOps.kmAssignStateless(
          graft.ext.SimilarityOps.quantizeFrame(f.open())
            .filter(col("vec_id") >= cut),
          centSeq)
          .withColumn("nrm", graft.ext.SimilarityOps.norm(col("v"))),
        base)
    }
    graft.ext.DedupOps.gateVerdict(log)
  }

  case class TransEvent(user_id: Long, ts: Long, event_id: Long, tp: String)
  case class LastEvent(ts: Long, event_id: Long, tp: String)
  case class TransitionFact(from_type: String, to_type: String)

  /** The per-user transition extractor behind e114: custom state holds
    * only the user's LAST event (ts + event_id, so the tie-break
    * matches the batch twin's (tsus, event_id) lag order exactly);
    * each batch's events sort per-user on that key and every FORWARD
    * adjacent pair within the 30-minute session gap emits one
    * transition fact. An event that predates the stored last (a
    * cross-batch out-of-order arrival) is DROPPED, never linked — a
    * one-row state cannot re-derive the global order a late event
    * changes, and silently linking it backwards would emit a
    * (from, to) pair the batch twin's lag order never produces; the
    * contract is per-user in-order delivery across batches (the e95
    * funnel's monotone rule), which the single-batch oracle drain and
    * any time-ordered feed satisfy. A null-typed LAST event links no
    * transition (the batch twin's `prev_type IS NOT NULL` filter).
    * Emitted facts are final (append-legal). */
  def transitionStream(
      events: org.apache.spark.sql.Dataset[TransEvent])
      : org.apache.spark.sql.Dataset[TransitionFact] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[LastEvent, TransitionFact](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, it: Iterator[TransEvent], state: GroupState[LastEvent]) =>
          var last = state.getOption
          val out = Seq.newBuilder[TransitionFact]
          it.toSeq.sortBy(e => (e.ts, e.event_id)).foreach { e =>
            last match {
              case Some(l) if e.ts > l.ts ||
                  (e.ts == l.ts && e.event_id > l.event_id) =>
                if (l.tp != null && e.ts - l.ts <= 1800000000L)
                  out += TransitionFact(l.tp, e.tp)
                last = Some(LastEvent(e.ts, e.event_id, e.tp))
              case Some(_) => () // out-of-order arrival: dropped
              case None => last = Some(LastEvent(e.ts, e.event_id, e.tp))
            }
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }

  /** e114: e113's STREAMING twin — the transition matrix maintained
    * against a live event feed: per-user LAST-event custom state (the
    * minimal state a first-order Markov counter needs — one row per
    * user, never a history), each arriving event emitting its
    * session-local transition fact into the exactly-once file sink;
    * counting and exact-ppm row normalization are e113's read-time
    * epilogue, so the drained log hash-checks against e113's oracle.
    * At scale: state is O(users), per-batch work is O(batch), and the
    * matrix itself is |event-type|² — the live "where do users go
    * next" table. */
  def streamTransitions(spark: SparkSession, d: String): DataFrame =
    transitions(spark, d, "e114", feed(spark, d, "events"))

  /** The e114 transition dataflow drained from `f`, shared by e114 and
    * its e118 restart proof. */
  private def transitions(spark: SparkSession, d: String, name: String,
      f: Feed): DataFrame = {
    import spark.implicits._
    val log = drain(spark, d, name, f, "append") {
      transitionStream(
        f.open()
          .select(col("user_id"), expr("ts div 1000").as("ts"),
            col("event_id"), col("event_type").as("tp"))
          .as[TransEvent]).toDF()
    }
    graft.ext.EventOps.transitionFinish(log)
  }

  /** e118: e114's transition counter stopped mid-input and RESUMED
    * from its checkpoint — the restart proof for the custom
    * Markov-counter state, extending the e104–e106 family to its
    * fourth state shape (watermarked dedup keys, open sessions,
    * RocksDB ValueState, and now a flatMapGroupsWithState last-event
    * record). The sharp case is the phase boundary itself: every
    * user's LAST phase-1 event lives only in the restored state
    * store, and their FIRST phase-2 event must link to it — one
    * state row lost or re-derived and the boundary transitions
    * vanish or double, which the shared e113 batch oracle would
    * hash-catch. The time-split staging preserves per-user
    * (ts, event_id) order across the boundary, so e114's in-order
    * delivery contract holds by construction. */
  def streamTransitionsRestart(spark: SparkSession, d: String): DataFrame =
    transitions(spark, d, "e118", eventRestartFeed(spark, d))

  /** e112: m79's STREAMING twin — the media crawler's continuous
    * near-dup gate: the corpus's cold-capped fingerprint band index is
    * built batch-side ([[graft.ext.Multimodal.corpusBandIndex]], the
    * SAME capped representation as the batch twin), then the stream's
    * new-crawl media (media_id % 7 == 3, filtered IN the stream) flow
    * through the stateless synthesize → signature → band explode (all
    * per-row typed maps, no aggregation — append-mode legal) into a
    * stream-static equi-join on (kind, band_idx, band), and each
    * candidate (new, corpus) pair lands in the exactly-once file sink.
    * Frame-agreement scoring, the best-match argmax and the verdict
    * rows are m79's read-time epilogue, so the drained log
    * hash-checks against m79's oracle. At scale: per-batch join work
    * tracks the batch's candidate fan-out, never corpus size — the
    * media tier's form of the e109 crawler gate. */
  def streamMediaDedupGate(spark: SparkSession, d: String): DataFrame = {
    val f = feed(spark, d, "documents")
    val corpIdx = graft.ext.Multimodal.corpusBandIndex(spark, d)
    val log = drain(spark, d, "e112", f, "append") {
      import spark.implicits._
      graft.ext.Multimodal.bandsOf(graft.ext.Multimodal.signaturesOf(
        graft.ext.Multimodal.mediaRowsOf(
          f.open()
            .filter(col("doc_id") % 7 === 3)
            .select("doc_id", "text").as[(Long, String)])))
        .select(col("kind"), col("band_idx"), col("band"),
          col("media_id").as("n_id"))
        .join(corpIdx, Seq("kind", "band_idx", "band"))
        .select("n_id", "c_id")
    }
    graft.ext.Multimodal.incrMediaFinish(spark, d, log)
  }

  /** Streaming maildir ingest: binaryFile stream → parse → per-batch
    * merge into the store (foreachBatch = the reference's per-task
    * upsert loop collapsed into idempotent batch merges). Returns the
    * started query; callers drain with processAllAvailable.
    * `checkpointDir` pins the checkpoint so a STOPPED ingest can be
    * resumed by a new query (the service-restart path: the file-source
    * log skips already-merged files — spec-verified with an
    * upsert-row counter, not just by the merge's idempotence). */
  def streamIngest(spark: SparkSession, baseDir: String, store: graft.store.DocStore,
      maxFilesPerTrigger: Int = 100, checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val ckpt = checkpointDir.getOrElse(
      graft.Fs.scratchTempDir("graft-ingest-ckpt").toString)
    // same depth-3 contract as the batch scan (EmailIngest.scan): the
    // glob lists only base/<user>/<folder>/<file>, the anchored pattern
    // recovers hierarchy relative to baseDir. The base is escaped, so a
    // dir named like `in[1]` is read as itself, not as a pattern.
    val scanned = EmailIngest.depth3(spark.readStream
      .format("binaryFile")
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .schema(StructType(Seq(
        StructField("path", StringType),
        StructField("modificationTime", TimestampType),
        StructField("length", LongType),
        StructField("content", BinaryType))))
      .load(EmailIngest.escapeGlob(baseDir) + "/*/*"),
      EmailIngest.depth3Pattern(spark, baseDir))
    scanned.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // no emptiness check: it would parse the batch once more, and
        // an upsert of no rows writes nothing
        store.upsert(EmailIngest.docs(batch.sparkSession,
          EmailIngest.parse(batch.sparkSession, batch)))
      }
      .start()
  }

  // ------------------------------------------- custom keyed state

  case class SessionEvent(user_id: Long, ts: Double)
  case class SessionState(start: Double, last: Double, n: Long)
  case class ClosedSession(user_id: Long, start: Double, end: Double,
      n_events: Long)

  /** Gap-based sessionization with CUSTOM state via
    * flatMapGroupsWithState (§2.8: the reference's unbounded keyed
    * dedup/merge state generalized): per user, events extend the open
    * session; a gap > `gap` closes it and emits a ClosedSession row.
    * Open sessions live in the state store across micro-batches.
    * `ts` and `gap` are unit-neutral — any consistent time unit works
    * (e90 feeds integer microseconds carried in doubles; the spec
    * feeds seconds); the emitted start/end are in the same unit. */
  def sessionizeStream(
      events: org.apache.spark.sql.Dataset[SessionEvent],
      gap: Double = 1800.0)
      : org.apache.spark.sql.Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          val sorted = it.toSeq.sortBy(_.ts)
          var cur = state.getOption
          val closed = Seq.newBuilder[ClosedSession]
          sorted.foreach { e =>
            cur match {
              case Some(st) if e.ts - st.last > gap =>
                closed += ClosedSession(uid, st.start, st.last, st.n)
                cur = Some(SessionState(e.ts, e.ts, 1))
              case Some(st) =>
                cur = Some(st.copy(last = e.ts, n = st.n + 1))
              case None =>
                cur = Some(SessionState(e.ts, e.ts, 1))
            }
          }
          cur.foreach(state.update)
          closed.result().iterator
      }
  }

  // --------------------------------------- e95 streaming funnel twin

  case class FunnelEvent(user_id: Long, ts: Long, tp: Int)
  case class FunnelTimes(times: Seq[Long])
  case class FunnelProgress(user_id: Long, reached: Int)

  /** Keyed funnel state machine: per user the state holds the stage
    * times reached so far (t1 < t2 < … strictly increasing, stage i
    * only after stage i-1 — the same sequential-min fold as the e93
    * batch operator, applied to each micro-batch's time-sorted slice
    * on top of the carried state). Emits the user's current stage
    * count every batch (monotone, so read-time `max` is the final
    * value). */
  def funnelStream(
      events: org.apache.spark.sql.Dataset[FunnelEvent])
      : org.apache.spark.sql.Dataset[FunnelProgress] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelTimes, FunnelProgress](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[FunnelEvent], state: GroupState[FunnelTimes]) =>
          var times = state.getOption.map(_.times.toVector)
            .getOrElse(Vector.empty[Long])
          it.toSeq.sortBy(e => (e.ts, e.tp)).foreach { e =>
            if (e.tp == times.length && times.length < 4 &&
                (times.isEmpty || e.ts > times.last))
              times = times :+ e.ts
          }
          state.update(FunnelTimes(times))
          Iterator.single(FunnelProgress(uid, times.length))
      }
  }

  /** e95: the e93 conversion funnel as a STREAM — per-user stage
    * progress lives in the state store (the shape that follows a
    * signup→purchase journey across an unbounded event feed), the
    * 4-row funnel summary is computed from the tiny per-user progress
    * sink at read time. Output is identical to the batch twin and
    * shares e93's DuckDB oracle — stream/batch parity on the funnel
    * tier is itself oracle-checked (the e92/e91 pattern with CUSTOM
    * state instead of a built-in aggregation). */
  def streamFunnel(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val f = feed(spark, d, "events")
    // per-user progress emissions are user-scale; update mode can't use
    // the file sink directly, so they append as an upsert log (read
    // collapses them via the monotone max)
    val snap = drain(spark, d, "e95", f, "update") {
      val ev = f.open()
        .filter(col("event_type").isin("signup", "view", "click", "purchase"))
        .select(col("user_id"), expr("ts div 1000").as("ts"),
          expr("CASE event_type WHEN 'signup' THEN 0 WHEN 'view' THEN 1" +
            " WHEN 'click' THEN 2 ELSE 3 END").cast("int").as("tp"))
        .as[FunnelEvent]
      funnelStream(ev).toDF()
    }
    snap
      .groupBy("user_id").agg(max("reached").as("reached"))
      // coalesce: a zero-funnel-event corpus makes this global agg emit
      // one all-NULL row, which funnelStackExpr's WHEN n1 = 0 branch
      // must see as 0 counts (matches EventOps.funnelSummary + oracle)
      .agg(coalesce(sum(when(col("reached") >= 1, 1L).otherwise(0L)), lit(0L)).as("n1"),
        coalesce(sum(when(col("reached") >= 2, 1L).otherwise(0L)), lit(0L)).as("n2"),
        coalesce(sum(when(col("reached") >= 3, 1L).otherwise(0L)), lit(0L)).as("n3"),
        coalesce(sum(when(col("reached") >= 4, 1L).otherwise(0L)), lit(0L)).as("n4"))
      .select(expr(graft.ext.EventOps.funnelStackExpr))
      .orderBy("stage_idx")
  }

  // ------------------------------------ e98 stream-static enrichment

  /** e98: STREAM-STATIC enrichment join — the purchase stream joined
    * per micro-batch against the static customer dimension (broadcast
    * lookup, re-read each batch: the remaining built-in streaming join
    * shape after e88's stream-stream), revenue aggregated per market
    * segment in streaming state. Users map onto the customer key space
    * by modulo (deterministic, SF-agnostic — the oracle recomputes the
    * modulus from the dimension's own row count). Value sums run on
    * exact integer cents (the e80 rule). */
  def streamSegmentEnrichment(spark: SparkSession, d: String): DataFrame = {
    val f = feed(spark, d, "events")
    val cust = graft.Tables.customer(spark, d)
      .select("c_custkey", "c_mktsegment")
    val nCust = cust.count()
    val snap = drain(spark, d, "e98", f, "complete") {
      f.open()
        .filter(col("event_type") === "purchase")
        .withColumn("c_custkey", expr(s"user_id % $nCust + 1"))
        .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
        .join(broadcast(cust), "c_custkey")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_purchases"), sum("cents").as("cents"))
    }
    snap.select(col("c_mktsegment"), col("n_purchases"),
        (col("cents") / 100.0).as("total_value"))
      .orderBy("c_mktsegment")
  }

  val streamSegmentEnrichmentSql: String =
    """SELECT c_mktsegment, count(*) AS n_purchases,
      |  sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total_value
      |FROM events e
      |JOIN customer c
      |  ON c.c_custkey = e.user_id % (SELECT count(*) FROM customer) + 1
      |WHERE e.event_type = 'purchase'
      |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin

  // ------------------------------------- e96 streaming retention twin

  /** e96: the e94 weekly-cohort retention as a STREAM — distinct
    * (user, day) activity pairs maintained by streaming
    * `dropDuplicates` state (the "has this user been seen today"
    * membership set, the remaining built-in streaming-state shape the
    * twin tier didn't yet exercise), cohort bucketing computed from
    * the deduped pair sink at read time. Output is identical to the
    * batch twin and shares e94's DuckDB oracle. At scale the state
    * would carry a watermark to expire closed days; the fixtures are
    * bounded so none is needed for parity. */
  def streamRetention(spark: SparkSession, d: String): DataFrame = {
    val f = feed(spark, d, "events")
    // the deduped (user, day) pair set is user-scale, not aggregate-
    // bounded → file sink, never the driver
    val snap = drain(spark, d, "e96", f, "append") {
      f.open()
        .select(col("user_id"),
          expr("(ts div 1000) div 86400000000").as("day"))
        .dropDuplicates("user_id", "day")
    }
    graft.ext.EventOps.cohortsFromDays(snap)
  }

  /** Watermarked sliding-window aggregation over a timestamped event
    * stream — the bounded-state deployment shape (§2.8): 10-minute
    * windows sliding 5, 15-minute watermark, append mode (only
    * finalized windows emit). */
  def windowedEventCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "15 minutes")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"))
}
