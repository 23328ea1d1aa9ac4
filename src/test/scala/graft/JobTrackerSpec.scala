package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.{JobDoc, JobTracker}

/** The tracker's in-process job documents must equal the parquet log's
  * `currentState()` view field by field — the map serves polls, the
  * log is the durable record, and the two may never disagree. */
class JobTrackerSpec extends AnyFunSuite with SparkSpec {

  private def logView(tracker: JobTracker, id: String): Option[JobDoc] =
    tracker.currentState().filter(col("job_id") === id).collect().headOption
      .map(r => JobDoc(r.getAs[String]("job_id"), r.getAs[String]("status"),
        r.getAs[String]("source"), r.getAs[String]("input_dir"),
        r.getAs[Long]("file_count"), r.getAs[Timestamp]("updated_at")))

  test("in-memory job state equals the log view for every history") {
    val root = Files.createTempDirectory("graft-jobstate").resolve("jobs")
    val tracker = new JobTracker(spark, root.toString)

    val parsed = tracker.create("a.zip", "/in/a")
    tracker.setStatus(parsed, "PARSING", fileCount = 3)
    tracker.setStatus(parsed, "PARSED", fileCount = 3)

    val empty = tracker.create("b.zip", "/in/b")
    tracker.setStatus(empty, "EMPTY")

    val failed = tracker.create("c.zip", "/in/c")
    tracker.setStatus(failed, "PARSING", fileCount = 2)
    tracker.setStatus(failed, "FAILED")

    // equal event_ts throughout: the state rank decides, not the write
    // order (PARSED is written before PARSING, and still wins)
    val frozen = Timestamp.valueOf("2001-02-03 04:05:06.123456")
    val tied = new JobTracker(spark, root.toString) {
      override protected def now(): Timestamp = frozen
    }
    val tie = tied.create("d.zip", "/in/d")
    tied.setStatus(tie, "PARSED", fileCount = 5)
    tied.setStatus(tie, "PARSING", fileCount = 5)

    val expected = Map(
      parsed -> ("PARSED", "a.zip", "/in/a", 3L),
      empty -> ("EMPTY", "b.zip", "/in/b", -1L),
      failed -> ("FAILED", "c.zip", "/in/c", 2L),
      tie -> ("PARSED", "d.zip", "/in/d", 5L))
    expected.foreach { case (id, (status, source, input, files)) =>
      val t = if (id == tie) tied else tracker
      val mem = t.lookup(id)
      assert(mem == logView(t, id), id)
      assert(mem.map(d => (d.status, d.source, d.inputDir, d.fileCount))
        .contains((status, source, input, files)), mem)
      assert(t.status(id).contains(status))
    }
    assert(tied.lookup(tie).map(_.updatedAt).contains(frozen))

    // an id neither tracker wrote is read from the log; unknown → None
    assert(tracker.lookup(tie) == logView(tracker, tie))
    assert(tracker.lookup("no-such-job").isEmpty)
    assert(logView(tracker, "no-such-job").isEmpty)
  }

  private def rows(tracker: JobTracker): Seq[(String, String, Long)] =
    tracker.events().select("job_id", "status", "file_count").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq.sorted

  test("concurrent appends all land, none throws") {
    val root = Files.createTempDirectory("graft-jobrace").resolve("jobs")
    val tracker = new JobTracker(spark, root.toString)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      // each thread creates a job and appends 40 events in all to it
      val runs = (1 to 2).map { t =>
        pool.submit { () =>
          val id = tracker.create(s"t$t.zip", s"/in/t$t")
          (1 to 39).foreach(i => tracker.setStatus(id, "PARSING", fileCount = i))
          id
        }
      }
      val ids = runs.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      val appended = ids.flatMap(id =>
        (id, "QUEUED", -1L) +: (1 to 39).map(i => (id, "PARSING", i.toLong)))
      assert(rows(tracker) == appended.sorted)
      ids.foreach { id =>
        assert(tracker.lookup(id) == logView(tracker, id), id)
        assert(tracker.lookup(id).map(d => (d.status, d.fileCount))
          .contains(("PARSING", 39L)))
      }
    } finally {
      // a failed thread must not leave the other appending into later specs
      pool.shutdown()
      pool.awaitTermination(120, java.util.concurrent.TimeUnit.SECONDS)
    }
  }

  test("a log of Spark-appended and single-file events reads the same after restart") {
    val root = Files.createTempDirectory("graft-jobmixed").resolve("jobs")
    // events as a Spark append writes them, INT96 event_ts included
    val old = "0ld-job"
    val t0 = Timestamp.valueOf("2001-02-03 04:05:06.123456")
    val t1 = Timestamp.valueOf("2001-02-03 04:05:07.5")
    import spark.implicits._
    Seq((old, t0, "QUEUED", "old.zip", "/in/old", -1L),
      (old, t1, "PARSING", "", "", 4L))
      .toDF("job_id", "event_ts", "status", "source", "input_dir", "file_count")
      .coalesce(1).write.mode("append").parquet(root.toString)
    val sparkFile = Files.list(root).iterator().asScala
      .find(_.toString.endsWith(".parquet")).get
    val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      spark.sparkContext.hadoopConfiguration,
      new org.apache.hadoop.fs.Path(sparkFile.toString))
    assert(footer.getFileMetaData.getSchema.getFields.asScala
      .find(_.getName == "event_ts").get
      .asPrimitiveType.getPrimitiveTypeName.name == "INT96")

    val tracker = new JobTracker(spark, root.toString)
    tracker.setStatus(old, "PARSED", fileCount = 4)
    val fresh = tracker.create("new.zip", "/in/new")
    tracker.setStatus(fresh, "EMPTY")

    val restarted = new JobTracker(spark, root.toString)
    assert(restarted.lookup(fresh) == tracker.lookup(fresh))
    assert(restarted.lookup(fresh).map(_.status).contains("EMPTY"))
    assert(restarted.lookup(old) == tracker.lookup(old))
    val doc = restarted.lookup(old).get
    assert((doc.status, doc.source, doc.inputDir, doc.fileCount) ==
      (("PARSED", "old.zip", "/in/old", 4L)))
    assert(doc.updatedAt.after(t1))
    assert(restarted.events().filter(col("job_id") === old)
      .select("event_ts").as[Timestamp].collect().toSet.intersect(Set(t0, t1))
      == Set(t0, t1))
  }

  test("a leftover temp file of an unfinished append is not an event") {
    val dir = Files.createTempDirectory("graft-jobtmp")
    val root = dir.resolve("jobs")
    val tracker = new JobTracker(spark, root.toString)
    val id = tracker.create("a.zip", "/in/a")
    // a complete single-event file under the temp name, as an append
    // that stopped before its rename leaves it
    val other = new JobTracker(spark, dir.resolve("other").toString)
    other.create("b.zip", "/in/b")
    val part = Files.list(dir.resolve("other")).iterator().asScala
      .find(_.getFileName.toString.startsWith("part-")).get
    Files.copy(part, root.resolve("_" + part.getFileName))
    assert(rows(tracker) == Seq((id, "QUEUED", -1L)))
    assert(new JobTracker(spark, root.toString).currentState().count() == 1)
  }
}
