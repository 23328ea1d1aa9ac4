package graft

import java.nio.file.Files
import java.sql.Timestamp

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
}
