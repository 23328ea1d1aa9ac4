package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.ext.Multimodal
import graft.ingest.ZipStaging
import graft.jobs.JobTracker
import graft.store.PartitionedEmailStore
import graft.streaming.StreamingOps

/** Streaming ingest, job state machine, multimodal plumbing, zip
  * staging — the control-plane + incremental tier (SURVEY §2.7/§2.8). */
class StreamingJobsSpec extends AnyFunSuite with SparkSpec {

  private def writeMsg(base: Path, user: String, folder: String,
      name: String, id: String): Unit = {
    val dir = base.resolve(user).resolve(folder)
    Files.createDirectories(dir)
    Files.write(dir.resolve(name),
      s"Message-ID: <$id@x>\r\nFrom: a@x.com\r\nTo: b@x.com\r\nSubject: $id\r\n\r\nbody $id"
        .getBytes(StandardCharsets.UTF_8))
  }

  test("streaming ingest merges out-of-order duplicate arrivals (§2.8)") {
    val base = Files.createTempDirectory("graft-stream-maildir")
    val storeDir = Files.createTempDirectory("graft-stream-store")
      .resolve("store").toString
    val store = new PartitionedEmailStore(spark, storeDir)
    // batch 1: two files
    writeMsg(base, "alice", "sent", "1_", "m1")
    writeMsg(base, "bob", "inbox", "2_", "m2")
    val q = StreamingOps.streamIngest(spark, base.toString, store,
      maxFilesPerTrigger = 2)
    try {
      q.processAllAvailable()
      assert(store.read().count() == 2)
      // batch 2: a DUPLICATE of m1 from another mailbox + a new message
      writeMsg(base, "carol", "inbox", "3_", "m1")
      writeMsg(base, "dave", "inbox", "4_", "m3")
      q.processAllAvailable()
      val rows = store.read()
      assert(rows.count() == 3) // m1 merged, not duplicated
      val m1 = rows.filter("dedupe_key = '<m1@x>'").collect().head
      val mbs = m1.getAs[Seq[org.apache.spark.sql.Row]]("mailboxes")
        .map(_.getString(0)).toSet
      assert(mbs == Set("alice", "carol"))
    } finally q.stop()
  }

  test("watermarked sliding windows emit only finalized windows (append)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val events = input.toDF().toDF("ts", "event_type")
    val out = StreamingOps.windowedEventCounts(events)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("wm_out").start()
    try {
      def t(min: Int) = java.sql.Timestamp.from(
        java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(min * 60L))
      input.addData((t(1), "click"), (t(2), "click"), (t(7), "view"))
      q.processAllAvailable()
      // watermark hasn't passed any window end yet → nothing emitted
      assert(spark.table("wm_out").count() == 0)
      // event far in the future pushes watermark past the early windows
      input.addData((t(60), "click"))
      q.processAllAvailable()
      val rows = spark.table("wm_out")
        .collect().map(r => (r.getTimestamp(0).toInstant.toString,
          r.getString(2), r.getLong(3))).toSet
      // finalized: windows fully below watermark 60-15=45min
      assert(rows.contains(("2024-01-01T00:00:00Z", "click", 2L)))
      assert(rows.contains(("2024-01-01T00:05:00Z", "view", 1L)))
    } finally q.stop()
  }

  test("streaming dropDuplicates holds dedup state across batches (§2.8)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String)]
    val out = input.toDF().toDF("dedupe_key", "payload")
      .dropDuplicates("dedupe_key")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("dd_out").start()
    try {
      input.addData(("k1", "a"), ("k2", "b"), ("k1", "dup-in-batch"))
      q.processAllAvailable()
      assert(spark.table("dd_out").count() == 2)
      // duplicate arriving in a LATER batch is suppressed by state
      input.addData(("k1", "dup-later-batch"), ("k3", "c"))
      q.processAllAvailable()
      val keys = spark.table("dd_out").select("dedupe_key")
        .collect().map(_.getString(0)).sorted.toSeq
      assert(keys == Seq("k1", "k2", "k3"))
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark bounds dedup state by event time") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(min * 60L))
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val out = input.toDF().toDF("ts", "dedupe_key")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("dedupe_key")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("ddw_out").start()
    try {
      input.addData((ts(0), "k1"), (ts(1), "k1")) // in-window duplicate
      q.processAllAvailable()
      // far-future event expires k1's dedup state past the watermark
      input.addData((ts(120), "adv"))
      q.processAllAvailable()
      input.addData((ts(125), "k1")) // k1 again, far outside the window
      q.processAllAvailable()
      val k1 = spark.table("ddw_out").filter("dedupe_key = 'k1'").count()
      assert(k1 == 2) // deduped within the window, re-admitted after —
                      // bounded state, unlike the unbounded store merge
    } finally q.stop()
  }

  test("stream-stream join within watermark bounds") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(min * 60L))
    val clicks = MemoryStream[(java.sql.Timestamp, Long)]
    val buys = MemoryStream[(java.sql.Timestamp, Long)]
    val c = clicks.toDF().toDF("c_ts", "c_user").withWatermark("c_ts", "10 minutes")
    val b = buys.toDF().toDF("b_ts", "b_user").withWatermark("b_ts", "10 minutes")
    // purchase attributed to a click within the prior 30 minutes
    val joined = c.join(b,
      org.apache.spark.sql.functions.expr(
        "c_user = b_user AND b_ts BETWEEN c_ts AND c_ts + INTERVAL 30 MINUTES"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ss_out").start()
    try {
      clicks.addData((ts(0), 1L), (ts(5), 2L))
      buys.addData((ts(10), 1L), (ts(50), 2L)) // user 2 buys too late
      q.processAllAvailable()
      clicks.addData((ts(120), 9L)) // advance watermarks
      buys.addData((ts(120), 9L))
      q.processAllAvailable()
      val rows = spark.table("ss_out")
        .select("c_user").collect().map(_.getLong(0)).sorted.toSeq
      assert(rows.contains(1L))      // in-window attribution joined
      assert(!rows.contains(2L))     // out-of-window purchase did not
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionization keeps state across batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamingOps.SessionEvent]
    val out = StreamingOps.sessionizeStream(input.toDS(), gap = 1800.0)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    try {
      // batch 1: user 7 has two events 10 min apart → one OPEN session
      input.addData(StreamingOps.SessionEvent(7, 1000.0),
        StreamingOps.SessionEvent(7, 1600.0))
      q.processAllAvailable()
      assert(spark.table("sess_out").count() == 0) // nothing closed yet
      // batch 2: event 2h later closes it (state survived the batch gap)
      input.addData(StreamingOps.SessionEvent(7, 9000.0))
      q.processAllAvailable()
      val rows = spark.table("sess_out").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
      assert(rows.toSeq == Seq((7L, 1000.0, 1600.0, 2L)))
    } finally q.stop()
  }

  test("native session_window stream matches the batch sessionize twin") {
    val d = "/root/testdata/sf0.001"
    val streamed = StreamingOps.streamSessionWindows(spark, d).collect()
    val batch = graft.ext.EventOps.sessionize(spark, d).collect()
    assert(streamed.length == batch.length && streamed.sameElements(batch))
  }

  test("streaming ingest resumes from its checkpoint without re-merging") {
    val base = Files.createTempDirectory("graft-restart-maildir")
    val storeDir = Files.createTempDirectory("graft-restart-store")
      .resolve("store").toString
    val ckpt = Files.createTempDirectory("graft-restart-ckpt").toString
    val inner = new PartitionedEmailStore(spark, storeDir)
    // counts ROWS handed to upsert: the restarted query must merge only
    // the NEW files — "the store converged" alone wouldn't prove that,
    // since the merge is idempotent and re-processing would converge too
    val upserted = new java.util.concurrent.atomic.AtomicLong(0)
    val store = new graft.store.DocStore {
      def upsert(batch: org.apache.spark.sql.DataFrame): Unit = {
        upserted.addAndGet(batch.count())
        inner.upsert(batch)
      }
      def read(): org.apache.spark.sql.DataFrame = inner.read()
      def isEmpty: Boolean = inner.isEmpty
    }
    writeMsg(base, "alice", "sent", "1_", "r1")
    writeMsg(base, "bob", "inbox", "2_", "r2")
    val q1 = StreamingOps.streamIngest(spark, base.toString, store,
      checkpointDir = Some(ckpt))
    try { q1.processAllAvailable() } finally q1.stop()
    assert(store.read().count() == 2)
    assert(upserted.get() == 2)
    // the service restarts: NEW query, SAME checkpoint; two new files
    // land, one a cross-mailbox duplicate of r1
    writeMsg(base, "carol", "inbox", "3_", "r1")
    writeMsg(base, "dave", "inbox", "4_", "r3")
    val q2 = StreamingOps.streamIngest(spark, base.toString, store,
      checkpointDir = Some(ckpt))
    try { q2.processAllAvailable() } finally q2.stop()
    val rows = store.read()
    assert(rows.count() == 3) // r1 merged, not duplicated
    // exactly the 2 NEW files crossed the merge after the restart — the
    // file-source log in the checkpoint skipped the 2 already-ingested
    assert(upserted.get() == 4, s"upserted ${upserted.get()} rows total")
    val r1 = rows.filter("dedupe_key = '<r1@x>'").collect().head
    val mbs = r1.getAs[Seq[org.apache.spark.sql.Row]]("mailboxes")
      .map(_.getString(0)).toSet
    assert(mbs == Set("alice", "carol"))
    // degenerate restart: NO new files — the resumed query must merge
    // nothing (the classic exactly-once edge: a crash-loop of restarts
    // over a quiet source must not touch the store at all)
    val q3 = StreamingOps.streamIngest(spark, base.toString, store,
      checkpointDir = Some(ckpt))
    try { q3.processAllAvailable() } finally q3.stop()
    assert(upserted.get() == 4, "a no-new-input restart re-merged files")
    assert(store.read().count() == 3)
  }

  test("restart twins reproduce the one-shot drains (e104/e105 recovery)") {
    val d = "/root/testdata/sf0.001"
    // e104 vs e101: dedup→windowed-agg across a stop/restart. Both run
    // the SAME plan (dedupActivityPlan); equality proves the watermark,
    // dedup-key state, and un-emitted window partials survived the
    // checkpoint round-trip.
    val oneShotAct = StreamingOps.streamDedupActivity(spark, d).collect()
    val restartAct = StreamingOps.streamDedupActivityRestart(spark, d)
      .collect()
    assert(restartAct.length == oneShotAct.length &&
      restartAct.sameElements(oneShotAct),
      s"e104 diverged: ${restartAct.length} vs ${oneShotAct.length} rows")
    // e105 vs e90: flatMapGroupsWithState sessions across a restart —
    // sessions OPEN at the cut live only in the restored state store
    val oneShotSess = StreamingOps.streamClosedSessions(spark, d).collect()
    val restartSess = StreamingOps.streamClosedSessionsRestart(spark, d)
      .collect()
    assert(restartSess.length == oneShotSess.length &&
      restartSess.sameElements(oneShotSess),
      s"e105 diverged: ${restartSess.length} vs ${oneShotSess.length} rows")
    // e106 vs e102: transformWithState census across a restart — the
    // partial census must reload from the checkpoint's ROCKSDB
    // snapshot (a different recovery path from the HDFS-backed state
    // above) so phase-2 purchases continue the counts
    val oneShotCensus = StreamingOps.streamUserCensus(spark, d).collect()
    val restartCensus = StreamingOps.streamUserCensusRestart(spark, d)
      .collect()
    assert(restartCensus.length == oneShotCensus.length &&
      restartCensus.sameElements(oneShotCensus),
      s"e106 diverged: ${restartCensus.length} vs ${oneShotCensus.length}")
  }

  test("restart dedup drops a duplicate that arrives AFTER the restart") {
    // the sharpest e104 case, pinned deterministically: a (user, type,
    // window) key seen in phase 1 recurs in phase 2 — the duplicate
    // can only be dropped if the dedup state SURVIVED the restart
    // (the time-midpoint split puts the two occurrences on opposite
    // sides of the stop). Events: u1 fires twice in the same 5-min
    // bucket, once early (slice 1) and once late-in-bucket but past
    // the timeline midpoint (slice 2); u2 pads the timeline so the
    // midpoint falls between the two occurrences.
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-e104-boundary")
    val h = 3600L * 1000 * 1000 * 1000 // 1h in ns
    val base = 1000L * h
    // construction: timeline [base, base+8h+120s] puts the midpoint cut
    // at base+4h+60s — INSIDE the 5-minute bucket starting base+4h and
    // BETWEEN u1's two occurrences (+60s, on the cut → slice 1; +240s →
    // slice 2), so the duplicate pair straddles the restart while
    // sharing one dedup key
    val pad = 8L * h + 120L * 1000 * 1000 * 1000
    val ev = Seq(
      (1L, base, 7L, "click", 0.0, "{}"),                    // timeline start
      (2L, base + 4 * h + 60L * 1000 * 1000 * 1000, 1L, "click", 0.0, "{}"),
      (3L, base + 4 * h + 240L * 1000 * 1000 * 1000, 1L, "click", 0.0, "{}"),
      (4L, base + pad, 7L, "click", 0.0, "{}"))              // timeline end
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    ev.coalesce(1).write.mode("overwrite")
      .parquet(dir.resolve("events.parquet").toString)
    // sanity: the cut separates events 2 and 3 (slice1 gets ts <= mid)
    val mid = base + (pad / 2)
    assert(base + 4 * h + 60L * 1000 * 1000 * 1000 <= mid &&
      base + 4 * h + 240L * 1000 * 1000 * 1000 > mid,
      "construction broken: dup occurrences not split by the midpoint")
    val out = StreamingOps.streamDedupActivityRestart(spark, dir.toString)
      .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1),
        r.getLong(2)))
    // u1's two occurrences share (user, type, bucket 4h) → counted ONCE;
    // the pad events occupy their own buckets
    val dupBucketMs = (base + 4 * h) / 1000000L // ns → ms epoch
    val dupRows = out.filter(_._1 == dupBucketMs)
    assert(dupRows.length == 1 && dupRows.head._3 == 1L,
      s"cross-restart duplicate not deduped: ${out.mkString(", ")}")
    assert(out.map(_._3).sum == 3L, s"unexpected census: ${out.mkString(", ")}")
  }

  test("a drain against a second fixture dir keeps the first dir's result readable (e107)") {
    // each file-sink drain deletes the previous sink dir of its key; the
    // key holds the fixture dir, so the sf0.01 drain must leave the
    // still-lazy sf0.001 result alone
    val first = StreamingOps.streamChunkOverlap(spark, "/root/testdata/sf0.001")
    val rows = first.collect().toSeq
    assert(rows.nonEmpty)
    val second = StreamingOps.streamChunkOverlap(spark, "/root/testdata/sf0.01")
    assert(second.count() > 0)
    // a new Dataset re-reads the sink files: collecting `first` again
    // would reuse its finished sort shuffle instead
    val again = first.select(first.columns.map(org.apache.spark.sql.functions.col): _*)
    assert(again.collect().toSeq == rows)
  }

  test("restart drains delete their fresh source dirs (e104/e121/e123)") {
    val d = "/root/testdata/sf0.001"
    val probe = Fs.scratchTempDir("graft-probe")
    val root = probe.getParent
    Fs.deleteTree(probe)
    def restartDirs(): Set[String] = {
      val s = Files.list(root)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.matches("graft-.*-restart.*")).toSet
      finally s.close()
    }
    val before = restartDirs()
    StreamingOps.streamDedupActivityRestart(spark, d).collect()
    StreamingOps.streamCmCellsRestart(spark, d).collect()
    StreamingOps.streamSubstringGateRestart(spark, d).collect()
    val left = restartDirs() -- before
    assert(left.isEmpty, s"restart source dirs left behind: $left")
  }

  test("drains size every state operator to their input and use RocksDB only for transformWithState") {
    import org.apache.spark.sql.streaming.{StateOperatorProgress, StreamingQueryListener}
    val d = "/root/testdata/sf0.001"
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.stateStore.providerClass")
    val before = keys.map(spark.conf.getAll.get)
    assert(spark.conf.get(keys.head) == "4")
    /** The state operators of the progress events of the `queries`
      * streaming queries that `run` starts and stops. */
    def stateOps(queries: Int)(run: => Unit): Seq[StateOperatorProgress] = {
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[StateOperatorProgress]()
      val ended = new java.util.concurrent.atomic.AtomicInteger
      val listener = new StreamingQueryListener {
        override def onQueryStarted(
            e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: StreamingQueryListener.QueryProgressEvent): Unit =
          e.progress.stateOperators.foreach(seen.add)
        override def onQueryTerminated(
            e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
          ended.incrementAndGet(); ()
        }
      }
      spark.streams.addListener(listener)
      try {
        run
        // a query's events arrive in order, its termination last
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (ended.get < queries && System.nanoTime() < deadline)
          Thread.sleep(10)
        assert(ended.get == queries)
      } finally spark.streams.removeListener(listener)
      seen.asScala.toSeq
    }
    val e88 = stateOps(1)(StreamingOps.streamRangeJoin(spark, d).collect())
    val e102 = stateOps(1)(StreamingOps.streamUserCensus(spark, d).collect())
    val e104 = stateOps(2)(
      StreamingOps.streamDedupActivityRestart(spark, d).collect())
    Seq("e88" -> e88, "e102" -> e102, "e104" -> e104).foreach { case (n, ops) =>
      assert(ops.nonEmpty, s"$n reported no state operator")
      assert(ops.forall(_.numShufflePartitions == 1),
        s"$n: ${ops.map(o => o.operatorName -> o.numShufflePartitions)}")
    }
    def rocksDb(o: StateOperatorProgress) =
      o.customMetrics.keySet.asScala.exists(_.startsWith("rocksdb"))
    assert(e102.forall(rocksDb), e102.map(_.customMetrics))
    assert(!e88.exists(rocksDb), e88.map(_.customMetrics))
    assert(keys.map(spark.conf.getAll.get) == before)
  }

  test("fixtures hold no exact-30-minute gap (e89 oracle-sharing invariant)") {
    // session_window closes a session at last+gap EXCLUSIVE while the
    // batch lag-formulation keeps a gap of exactly 30 min open — e89
    // may share e82's oracle only while no consecutive same-user
    // events sit exactly 30 minutes apart; pin that data property here
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val ev = graft.Tables.events(spark, s"/root/testdata/$sf")
        .withColumn("tsus", expr("ts div 1000"))
      val w = Window.partitionBy("user_id").orderBy("tsus", "event_id")
      val n = ev
        .withColumn("prev", lag("tsus", 1).over(w))
        .filter(col("tsus") - col("prev") === 1800000000L)
        .count()
      assert(n == 0,
        s"$sf has $n exact-gap pairs: e89 can no longer share e82's oracle")
      // e90's custom-state sessionizer sorts by timestamp alone, so
      // same-user duplicate timestamps would order nondeterministically
      // — pin that the fixtures have none (verified property, like the
      // gap invariant above)
      val dups = ev.groupBy("user_id", "tsus").count()
        .filter(col("count") > 1).count()
      assert(dups == 0,
        s"$sf has $dups same-user duplicate timestamps: e90's in-batch " +
          "sort is no longer total")
    }
  }

  test("job lifecycle QUEUED→PARSING→PARSED and EMPTY short-circuit (D6)") {
    val trackerDir = Files.createTempDirectory("graft-jobs").toString
    val tracker = new JobTracker(spark, trackerDir)
    val storeDir = Files.createTempDirectory("graft-job-store")
      .resolve("store").toString
    val store = new PartitionedEmailStore(spark, storeDir)

    val base = Files.createTempDirectory("graft-job-maildir")
    writeMsg(base, "alice", "inbox", "1_", "j1")
    writeMsg(base, "alice", "inbox", "2_", "j2")
    val jobId = tracker.create("unit-test", base.toString)
    JobTracker.runPhases(spark, tracker, store, jobId, base.toString)
    assert(tracker.status(jobId).contains("PARSED"))
    val st = tracker.currentState().filter(s"job_id = '$jobId'").collect().head
    assert(st.getAs[Long]("file_count") == 2L)
    assert(st.getAs[String]("source") == "unit-test")
    assert(store.read().count() == 2)
    // event log preserves the full transition history
    val statuses = tracker.events().filter(s"job_id = '$jobId'")
      .orderBy("event_ts").collect().map(_.getAs[String]("status")).toSeq
    assert(statuses == Seq("QUEUED", "PARSING", "PARSED"))

    // EMPTY short-circuit (ref: app/orchestrator.py:53-56)
    val emptyDir = Files.createTempDirectory("graft-empty")
    Files.createDirectories(emptyDir.resolve("nobody").resolve("nothing"))
    val j2 = tracker.create("unit-test", emptyDir.toString)
    JobTracker.runPhases(spark, tracker, store, j2, emptyDir.toString)
    assert(tracker.status(j2).contains("EMPTY"))
    assert(store.read().count() == 2) // untouched
  }

  test("an ingest job counts exactly its depth-3 files; strays alone are EMPTY") {
    val tracker = new JobTracker(spark,
      Files.createTempDirectory("graft-count-jobs").toString)
    val store = new PartitionedEmailStore(spark,
      Files.createTempDirectory("graft-count-store").resolve("store").toString)
    def strays(base: Path): Unit = {
      Files.write(base.resolve("top_"), "depth 1".getBytes)
      Files.createDirectories(base.resolve("alice"))
      Files.write(base.resolve("alice").resolve("loose_"), "depth 2".getBytes)
      writeMsg(base.resolve("alice").resolve("inbox"), "sub", "deeper",
        "4_", "deep") // depth 5
      writeMsg(base.resolve("alice"), "inbox", "sub", "5_", "d4") // depth 4
    }
    val base = Files.createTempDirectory("graft-count")
    writeMsg(base, "alice", "inbox", "1_", "c1")
    writeMsg(base, "bob", "a[1]", "2_", "c2")
    writeMsg(base, "bob", "a[1]", "3 x_", "c3")
    strays(base)
    val jobId = tracker.create("unit-test", base.toString)
    JobTracker.runPhases(spark, tracker, store, jobId, base.toString)
    assert(tracker.lookup(jobId).map(j => (j.status, j.fileCount))
      .contains(("PARSED", 3L)))
    assert(store.read().count() == 3)

    val onlyStrays = Files.createTempDirectory("graft-count-strays")
    strays(onlyStrays)
    val j2 = tracker.create("unit-test", onlyStrays.toString)
    JobTracker.runPhases(spark, tracker, store, j2, onlyStrays.toString)
    assert(tracker.status(j2).contains("EMPTY"))
    assert(store.read().count() == 3)
  }

  test("streaming ingest reads a base dir whose name holds glob metacharacters") {
    val base = Files.createTempDirectory("graft-stream-in[1]")
    writeMsg(base, "alice", "inbox", "1_", "g1")
    writeMsg(base, "bob", "sent", "2_", "g2")
    val store = new PartitionedEmailStore(spark,
      Files.createTempDirectory("graft-glob-store").resolve("store").toString)
    val q = StreamingOps.streamIngest(spark, base.toString, store)
    try {
      q.processAllAvailable()
      assert(q.exception.isEmpty)
      assert(!store.isEmpty, "the stream read no file of its base dir")
      assert(store.read().select("dedupe_key").collect().map(_.getString(0))
        .toSet == Set("<g1@x>", "<g2@x>"))
    } finally q.stop()
  }

  /** `user`'s folder `folder` with messages `ids`, made elsewhere and
    * renamed into `base` at once, so one micro-batch sees all of it. */
  private def landFolder(base: Path, user: String, folder: String,
      ids: Seq[String]): Unit = {
    val staging = Files.createTempDirectory("graft-landing")
    ids.zipWithIndex.foreach { case (id, i) =>
      writeMsg(staging, user, folder, s"${i}_", id)
    }
    Files.move(staging.resolve(user), base.resolve(user),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Spark jobs a micro-batch of 2 files (one new key, one redelivered)
    * runs into a non-empty partitioned store, as measured. */
  private val MicroBatchJobs = 11

  test("a micro-batch into a non-empty store runs a bounded number of Spark jobs") {
    val base = Files.createTempDirectory("graft-stream-jobs")
    val store = new PartitionedEmailStore(spark,
      Files.createTempDirectory("graft-stream-jobs-store").resolve("store")
        .toString)
    landFolder(base, "alice", "inbox", Seq("b1", "b2"))
    val q = StreamingOps.streamIngest(spark, base.toString, store)
    try {
      q.processAllAvailable()
      assert(store.read().count() == 2)
      val jobs = jobsDuring {
        landFolder(base, "carol", "inbox", Seq("b3", "b1"))
        q.processAllAvailable()
      }.filter(_.getProperty("sql.streaming.queryId") == q.id.toString)
      val perBatch = jobs.groupBy(_.getProperty("streaming.sql.batchId"))
        .map { case (b, js) => b -> js.length }
      assert(perBatch.size == 1, s"jobs per micro-batch: $perBatch")
      assert(perBatch.values.head <= MicroBatchJobs,
        s"jobs per micro-batch: $perBatch")
      // batch checkpoint, key probe, store write, index append
      val executions = jobs.map(_.getProperty("spark.sql.execution.id"))
        .distinct
      assert(executions.length <= 4, s"SQL executions: $executions")
      assert(q.exception.isEmpty)
      assert(store.read().count() == 3)
    } finally q.stop()
  }

  test("a micro-batch of only a stray file commits and writes no store or index file") {
    val base = Files.createTempDirectory("graft-stream-stray")
    val ckpt = Files.createTempDirectory("graft-stream-stray-ckpt")
    val root = Files.createTempDirectory("graft-stream-stray-store")
      .resolve("store").toString
    val store = new PartitionedEmailStore(spark, root)
    def files(): Set[String] = Seq(root, store.index.path)
      .map(java.nio.file.Paths.get(_)).filter(Files.exists(_))
      .flatMap { p =>
        val s = Files.walk(p)
        try s.iterator().asScala.map(_.toString).toList finally s.close()
      }.toSet
    def commits(): Int = Option(ckpt.resolve("commits").toFile.list())
      .map(_.count(_.forall(_.isDigit))).getOrElse(0)
    // a depth-2 file: the stream's glob lists it, the depth-3 filter
    // drops it, so its micro-batch holds no row
    def stray(name: String): Unit = {
      Files.createDirectories(base.resolve("alice"))
      Files.write(base.resolve("alice").resolve(name), "stray".getBytes)
    }
    stray("s1_")
    val q = StreamingOps.streamIngest(spark, base.toString, store,
      checkpointDir = Some(ckpt.toString))
    try {
      q.processAllAvailable()
      assert(q.exception.isEmpty && commits() == 1)
      assert(store.isEmpty && files().isEmpty)
      writeMsg(base, "alice", "inbox", "1_", "t1")
      q.processAllAvailable()
      assert(commits() == 2 && store.read().count() == 1)
      val before = files()
      stray("s2_")
      q.processAllAvailable()
      assert(q.exception.isEmpty && q.isActive && commits() == 3)
      assert(files() == before)
    } finally q.stop()
  }

  test("zip staging → ingest (S3), zip-slip rejected") {
    val zipPath = Files.createTempFile("graft", ".zip")
    val zos = new ZipOutputStream(Files.newOutputStream(zipPath))
    def add(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes(StandardCharsets.UTF_8))
      zos.closeEntry()
    }
    add("erin/inbox/1_",
      "Message-ID: <z1@x>\r\nFrom: z@x.com\r\nTo: b@x.com\r\nSubject: zipped\r\n\r\nzip body")
    zos.close()
    val staged = ZipStaging.stage(zipPath.toString)
    try {
      val docs = graft.ingest.EmailIngest.docs(spark,
        graft.ingest.EmailIngest.ingest(spark, staged.toString))
      val rows = docs.collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[String]("dedupe_key") == "<z1@x>")
      val mb = rows.head.getAs[scala.collection.Seq[org.apache.spark.sql.Row]](
        "mailboxes").head
      assert((mb.getString(0), mb.getString(1)) == ("erin", "inbox"))
    } finally ZipStaging.cleanup(staged)

    // zip-slip entry must be rejected
    val evil = Files.createTempFile("graft-evil", ".zip")
    val ez = new ZipOutputStream(Files.newOutputStream(evil))
    ez.putNextEntry(new ZipEntry("../../outside.txt"))
    ez.write("nope".getBytes); ez.closeEntry(); ez.close()
    assertThrows[IllegalArgumentException](ZipStaging.stage(evil.toString))
  }

  test("events fixture reserves negative event_ids for stream sentinels") {
    // e100/e101's watermark-advancing sentinel rows carry event_id
    // -1/-2 and are excluded from results by that reserved range; a
    // fixture that ever shipped real negative event_ids would silently
    // drop real rows, so the invariant fails loudly here instead
    import org.apache.spark.sql.functions.col
    // assert for EVERY available fixture dir, not just the spec-default
    // smallest one — e100 runs against sf0.01 (oracle) and sf0.1
    // (bench), and a generator change introducing negative ids only at
    // larger SFs would otherwise pass here while silently dropping
    // real unmatched-error rows there
    val dirs = Seq("sf0.001", "sf0.01", "sf0.1")
      .map(sf => s"/root/testdata/$sf/events.parquet")
      .filter(p => new java.io.File(p).exists)
    assert(dirs.nonEmpty)
    dirs.foreach { p =>
      val ev = spark.read.parquet(p)
      assert(ev.filter(col("event_id") < 0).isEmpty,
        s"$p: real events must have nonnegative event_ids (sentinels use -1/-2)")
    }
  }

  test("multimodal: decode stub, frame sampling, feature extraction") {
    val d = "/root/testdata/sf0.001"
    val media = Multimodal.mediaTable(spark, d)
    val meta = Multimodal.decodeStub(media).collect()
    assert(meta.length == 500)
    assert(meta.forall(m => m.width >= 64 && m.height >= 64))
    assert(meta.filter(_.kind == "video").forall(_.n_frames >= 1))
    val frames = Multimodal.sampleFrames(media)
    val f = frames.filter(_.media_id == 0L).collect()
    assert(f.nonEmpty && f.map(_.frame_idx).toSeq == f.indices.toSeq)
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length == 500)
    val v = feats.head.getAs[scala.collection.Seq[Float]]("features")
    assert(v.length == 8)
    assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-3) // normalized
  }
}
