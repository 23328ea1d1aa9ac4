package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.EmailIngest
import graft.query.EmailQueries
import graft.store.EmailStore

/** End-to-end: synthetic maildir tree → ingest → merge → query surface —
  * the reference's own demo flow mechanized (SURVEY.md §5.3; E3 lifecycle
  * ingest_enron.py:154-216). */
class EmailPipelineSpec extends AnyFunSuite with SparkSpec {

  private def write(base: Path, user: String, folder: String,
      name: String, content: String): Unit = {
    val dir = base.resolve(user).resolve(folder)
    Files.createDirectories(dir)
    Files.write(dir.resolve(name),
      content.replace("\n", "\r\n").getBytes(StandardCharsets.UTF_8))
  }

  private val sharedMsg =
    """Message-ID: <shared@x>
      |Date: Tue, 01 May 2001 10:00:00 -0000
      |From: Alice <alice@x.com>
      |To: bob@x.com
      |Subject: shared message
      |
      |same email in two mailboxes""".stripMargin

  private def maildir(): Path = {
    val base = Files.createTempDirectory("graft-maildir")
    // the same message in sender's sent AND recipient's inbox → must
    // merge to ONE row with TWO mailbox entries (ingest_enron.py:187-196)
    write(base, "alice", "sent", "1_", sharedMsg)
    write(base, "bob", "inbox", "7_", sharedMsg)
    write(base, "bob", "inbox", "8_",
      """Message-ID: <other@x>
        |Date: Wed, 02 May 2001 09:00:00 -0000
        |From: carol@x.com
        |To: bob@x.com, alice@x.com
        |Subject: second
        |
        |another message""".stripMargin)
    // a message with no Message-ID (hash-keyed)
    write(base, "carol", "drafts", "2_",
      """From: carol@x.com
        |To: dave@x.com
        |Subject: draft
        |
        |draft body""".stripMargin)
    // an unparsable file — must quarantine, not fail (D5): parser is
    // lenient so use something that decodes but has no headers at all
    write(base, "carol", "junk", "3_", "no header structure here")
    base
  }

  test("ingest → merge: duplicates collapse, mailboxes set-union") {
    val base = maildir()
    val parsed = EmailIngest.ingest(spark, base.toString)
    val docs = EmailIngest.docs(spark, parsed)
    assert(docs.count() == 5) // one row per parsed file

    val merged = EmailStore.mergeBatch(docs)
    assert(merged.count() == 4) // shared message collapsed
    assert(EmailStore.duplicateKeys(merged).count() == 0)

    val shared = merged.filter(merged("dedupe_key") === "<shared@x>")
      .collect().head
    val mailboxes = shared.getAs[Seq[org.apache.spark.sql.Row]]("mailboxes")
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(mailboxes == Set(("alice", "sent", "1_"), ("bob", "inbox", "7_")))
  }

  test("query surface Q1-Q5 over the merged store") {
    val base = maildir()
    val merged = EmailStore.mergeBatch(
      EmailIngest.docs(spark, EmailIngest.ingest(spark, base.toString)))
      .cache()

    assert(EmailQueries.byKey(merged, "<shared@x>").count() == 1)
    assert(EmailQueries.bySender(merged, "ALICE@X.COM").count() == 1)
    assert(EmailQueries.byRecipient(merged, "bob@x.com").count() == 2)
    assert(EmailQueries.byMailbox(merged, "bob", "inbox").count() == 2)
    assert(EmailQueries.byMailbox(merged, "alice", "sent").count() == 1)
    val ts = java.sql.Timestamp.from(java.time.Instant.parse("2001-05-01T00:00:00Z"))
    val until = java.sql.Timestamp.from(java.time.Instant.parse("2001-05-02T00:00:00Z"))
    assert(EmailQueries.byDateRange(merged, ts, until).count() == 1)

    val edges = EmailQueries.communicationEdges(merged).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(edges.contains(("alice@x.com", "bob@x.com", 1L)))
    assert(edges.contains(("carol@x.com", "bob@x.com", 1L)))

    val counts = EmailQueries.mailboxCounts(merged).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(counts(("bob", "inbox")) == 2L)
    merged.unpersist()
  }

  test("merge is idempotent and first-writer-wins across runs (D7/A2)") {
    import org.apache.spark.sql.functions._
    val base = maildir()
    val root = Files.createTempDirectory("graft-store")
      .resolve("store").toString
    val store = new graft.store.PartitionedEmailStore(spark, root)
    val docs = EmailIngest.docs(spark, EmailIngest.ingest(spark, base.toString))

    store.upsert(docs)
    val v1 = store.read().orderBy("dedupe_key").collect()
    assert(v1.length == 4)

    // re-ingest the same tree: the store converges — no new rows, no
    // field changes (Mongo $setOnInsert semantics, D7)
    store.upsert(docs)
    val v2 = store.read().orderBy("dedupe_key").collect()
    assert(v1.toSeq == v2.toSeq)

    // a later conflicting write with the same key must NOT overwrite
    // frozen fields but MUST union its mailbox position (A2/A3)
    val conflict = docs.filter(docs("dedupe_key") === "<shared@x>")
      .withColumn("subject", lit("CHANGED"))
      .withColumn("mailboxes", expr(
        "array(named_struct('user','eve','folder','stolen','filename','9_'))"))
    store.upsert(conflict)
    val row = store.read().filter("dedupe_key = '<shared@x>'").collect().head
    assert(row.getAs[String]("subject") == "shared message") // frozen
    assert(row.getAs[Seq[org.apache.spark.sql.Row]]("mailboxes")
      .map(_.getString(0)).toSet == Set("alice", "bob", "eve")) // union grew
  }

  test("partitioned store: same merge contract through the pipeline (D7/A2/A3)") {
    val base = maildir()
    val root = Files.createTempDirectory("graft-pstore-pipe")
      .resolve("store").toString
    val store = new graft.store.PartitionedEmailStore(spark, root)
    val docs = EmailIngest.docs(spark, EmailIngest.ingest(spark, base.toString))

    store.upsert(docs)
    assert(store.read().count() == 4)
    assert(EmailStore.duplicateKeys(store.read()).count() == 0)

    // idempotent re-upsert (D7); full-row convergence and the conflict
    // rules are checked in the merge test above
    store.upsert(docs)
    assert(store.read().count() == 4)
    assert(EmailStore.duplicateKeys(store.read()).count() == 0)

    // null-date rows land in (and stay in) the unknown partition
    assert(new java.io.File(s"$root/date_month=unknown").exists())
    // month-pruned read path returns the May rows
    val ts = java.sql.Timestamp.from(java.time.Instant.parse("2001-05-01T00:00:00Z"))
    val until = java.sql.Timestamp.from(java.time.Instant.parse("2001-06-01T00:00:00Z"))
    assert(store.readDateRange(ts, until).count() == 2)
  }
}
