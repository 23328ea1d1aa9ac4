package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.codec.Rfc822Parser
import graft.store.EmailStore

/** Deterministic email corpus derived from the `documents` fixture.
  *
  * Each documents row becomes one RFC-822 message whose every header is
  * a pure function of `doc_id` (modular arithmetic) and whose body is
  * the row's `text`. The messages run through the REAL pipeline
  * (Rfc822Parser.parse → EmailStore.mergeBatch), so the email query
  * surface (SURVEY.md §2.5 Q1–Q6, reference indexes
  * ingest_enron.py:144-152) exercises actual parse/merge code — while
  * the expected output of every query is SQL-expressible over
  * `documents`, which lets the driver's DuckDB oracle hash-check the
  * core product surface instead of settling for rows-only checks.
  *
  * Synthesis rules (shared with [[sqlPrelude]] — keep in sync):
  *  - Message-ID / dedupe_key: `<d{id}@corp>`
  *  - mailbox: user{id%5} / (inbox|sent|archive by id%3) / {id}_
  *  - From: u{id%7}@corp.com
  *  - To: team@corp.com, plus u{(id+1)%7}@corp.com when id even
  *  - Cc: cc{id%4}@corp.com when id%3 == 0
  *  - Date: {1+id%28} May 2001 {id%24}:15:00 +0000
  *  - Subject: msg {id}
  *  - body: the document text, except empty when id%50 == 0 (feeds the
  *    validation surface)
  *  - In-Reply-To: the previous existing doc_id in the same decade
  *    (id div 10), so reply chains partition the corpus into
  *    thread components exactly by decade
  */
object FixtureCorpus {

  val folders: Vector[String] = Vector("inbox", "sent", "archive")

  /** Deterministic name pools for the entity-tier fixtures (X1): every
    * 11th subject carries a title-case person and an org-suffixed
    * company so the NER context rules ([[graft.ext.Ner.titleCaseNer]])
    * have real mentions to find — chosen as modular functions of
    * doc_id like every other header, and mirrored verbatim in
    * [[sqlPrelude]] so the oracle reconstructs the same mentions. */
  val firstNames: Vector[String] =
    Vector("Alice", "Bob", "Carol", "David", "Erin", "Frank")
  val lastNames: Vector[String] =
    Vector("Johnson", "Smith", "Brown", "Taylor", "Walker")
  val orgNames: Vector[String] =
    Vector("Acme", "Globex", "Initech", "Umbrella")
  val orgSuffixes: Vector[String] = Vector("Inc", "Corp", "Ltd", "LLC")

  /** The synthesized Subject for doc `id` (shared by [[message]] and
    * the em70 redelivery rewrite check). */
  def subjectFor(id: Long): String =
    if (id % 11 == 0)
      s"msg $id ${firstNames((id % 6).toInt)} ${lastNames((id % 5).toInt)}" +
        s" of ${orgNames((id % 4).toInt)} ${orgSuffixes((id % 4).toInt)}"
    else s"msg $id"

  /** Render the synthetic RFC-822 message for one documents row.
    * Every 25th message is multipart/mixed with a base64 attachment
    * (payload = first 48 bytes of the text), so the MIME walk, body
    * assembly and attachment metadata all pass through the driver's
    * oracle gate, not just unit specs. */
  def message(id: Long, text: String, prev: Option[Long],
      subject: Option[String] = None): String = {
    val to =
      if (id % 2 == 0) s"team@corp.com, u${(id + 1) % 7}@corp.com"
      else "team@corp.com"
    val multipart = id % 25 == 0
    val headers = Seq(
      s"Message-ID: <d$id@corp>",
      f"Date: ${1 + id % 28}%d May 2001 ${id % 24}%02d:15:00 +0000",
      s"From: u${id % 7}@corp.com",
      s"To: $to") ++
      (if (id % 3 == 0) Seq(s"Cc: cc${id % 4}@corp.com") else Nil) ++
      prev.map(p => s"In-Reply-To: <d$p@corp>") ++
      Seq(s"Subject: ${subject.getOrElse(subjectFor(id))}") ++
      (if (multipart) Seq(s"Content-Type: multipart/mixed; boundary=B$id")
       else Nil)
    val body = if (id % 50 == 0) "" else text
    val content =
      if (multipart) {
        val b64 = java.util.Base64.getEncoder.encodeToString(
          text.getBytes("UTF-8").take(48))
        Seq(
          s"--B$id",
          "Content-Type: text/plain",
          "",
          body,
          s"--B$id",
          "Content-Type: application/octet-stream",
          s"""Content-Disposition: attachment; filename="a$id.dat"""",
          "Content-Transfer-Encoding: base64",
          "",
          b64,
          s"--B$id--")
      } else Seq(body)
    (headers ++ Seq("") ++ content).mkString("\r\n")
  }

  // one materialized store per (session, sf dir): the ~10 email-surface
  // driver queries share a single parse+merge instead of re-running it
  // per query (round-1 bench showed ~2-4 s of re-parse per query)
  private val frames = new graft.FrameRegistry

  /** The merged email store derived from `documents` at `dir`, built
    * through the real parse→merge pipeline and cached per session. */
  def store(s: SparkSession, dir: String): DataFrame =
    frames.cached(s, dir, "store")(
      EmailStore.mergeBatch(parsedDocs(s, dir).drop("doc_id")))

  /** The cache_fixture_corpus re-time clear: the store and every aux
    * frame. */
  def clear(): Unit = frames.clear()

  /** Shared per-(session, dir, tag) frame cache for em-tier entries
    * whose build has side effects (em71's on-disk ingest); the build
    * runs outside any map lock. */
  private[query] def cachedAux(s: SparkSession, dir: String, tag: String)(
      f: => DataFrame): DataFrame =
    frames.cached(s, dir, tag)(f)

  /** Drop only the aux frame `tag` (targeted bench re-warm: the shared
    * fixture store survives, so rebuilding one aux entry cannot push
    * the store build into an unrelated query). */
  private[graft] def clearAux(tag: String): Unit = frames.drop(tag)

  private def docRows(s: SparkSession, dir: String) = {
    import s.implicits._
    val w = Window.partitionBy(expr("doc_id div 10")).orderBy("doc_id")
    Tables.documents(s, dir)
      .select(col("doc_id").cast("long"), col("text"))
      .withColumn("prev", lag("doc_id", 1).over(w))
      .as[(Long, String, Option[Long])]
  }

  /** Pre-merge parsed rows (path + doc_id + store schema), one per
    * synthesized message, through the REAL parser — the raw batch shape
    * [[graft.store.EmailStore.mergeBatch]] consumes. */
  def parsedDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val parsed = docRows(s, dir).map { case (id, text, prev) =>
      val doc = Rfc822Parser.parse(
        message(id, text, prev).getBytes("UTF-8"),
        s"user${id % 5}", folders((id % 3).toInt), s"${id}_")
      (s"fixture://$id", id, doc)
    }
    parsed.toDF("path", "doc_id", "doc")
      .select(col("path"), col("doc_id"), col("doc.*"))
  }

  /** Re-delivery batch for the upsert rehearsal (em70): every 4th
    * message delivered a SECOND time into `user9/inbox` with a
    * rewritten Subject — same Message-ID, so the store must set-union
    * the mailbox while first-writer-wins keeps the original subject. */
  def redeliveries(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val parsed = docRows(s, dir).filter(_._1 % 4 == 0)
      .map { case (id, text, prev) =>
        val doc = Rfc822Parser.parse(
          message(id, text, prev, Some(s"fwd $id")).getBytes("UTF-8"),
          "user9", "inbox", s"${id}r_")
        (s"fixture2://$id", id, doc)
      }
    parsed.toDF("path", "doc_id", "doc")
      .select(col("path"), col("doc_id"), col("doc.*"))
  }

  /** Materialize the first `cap` synthesized messages as REAL files
    * under `base/<user>/<folder>/<id>_` — the on-disk corpus for the
    * em71 full-path ingest rehearsal. Executors write the files
    * directly (local-mode shared FS; a cluster deployment of this
    * generator would target shared storage the same way). */
  def materializeMaildir(s: SparkSession, dir: String, base: String,
      cap: Long): Unit =
    docRows(s, dir).filter(_._1 < cap).foreachPartition {
      (it: Iterator[(Long, String, Option[Long])]) =>
        it.foreach { case (id, text, prev) =>
          val p = java.nio.file.Paths.get(base,
            s"user${id % 5}", folders((id % 3).toInt), s"${id}_")
          java.nio.file.Files.createDirectories(p.getParent)
          java.nio.file.Files.write(p,
            message(id, text, prev).getBytes("UTF-8"))
          ()
        }
    }

  /** The same synthesis rules as a DuckDB CTE over `documents` — every
    * oracle for the email surface starts from this. */
  val sqlPrelude: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    '<d' || doc_id || '@corp>' AS dedupe_key,
      |    'user' || (doc_id % 5) AS usr,
      |    CASE doc_id % 3 WHEN 0 THEN 'inbox' WHEN 1 THEN 'sent'
      |      ELSE 'archive' END AS folder,
      |    'u' || (doc_id % 7) || '@corp.com' AS sender,
      |    make_timestamp(2001, 5, CAST(1 + doc_id % 28 AS INT),
      |      CAST(doc_id % 24 AS INT), 15, 0) AS dt,
      |    CASE WHEN doc_id % 11 = 0 THEN 'msg ' || doc_id || ' ' ||
      |      (['Alice','Bob','Carol','David','Erin','Frank'])
      |        [CAST(doc_id % 6 AS INT) + 1] || ' ' ||
      |      (['Johnson','Smith','Brown','Taylor','Walker'])
      |        [CAST(doc_id % 5 AS INT) + 1] || ' of ' ||
      |      (['Acme','Globex','Initech','Umbrella'])
      |        [CAST(doc_id % 4 AS INT) + 1] || ' ' ||
      |      (['Inc','Corp','Ltd','LLC'])[CAST(doc_id % 4 AS INT) + 1]
      |    ELSE 'msg ' || doc_id END AS subject,
      |    text,
      |    CASE WHEN doc_id % 50 = 0 THEN '' ELSE text END AS body,
      |    doc_id % 2 = 0 AS has_second_to,
      |    'u' || ((doc_id + 1) % 7) || '@corp.com' AS second_to,
      |    doc_id % 3 = 0 AS has_cc,
      |    'cc' || (doc_id % 4) || '@corp.com' AS cc_addr
      |  FROM documents)""".stripMargin
}
