package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.DedupOps
import graft.graph.{EmailGraph, GraphOps}
import graft.ingest.EmailIngest
import graft.jobs.{IngestApi, JobTracker}
import graft.query.FixtureCorpus
import graft.store.{EmailStore, PartitionedEmailStore}

/** Round-2 additions: scale guards (DF cap, block sub-split, sharded
  * dictionary), depth-3 scan contract, partition-scoped upsert, the
  * composed ingest-job API, graph viz export, and the fixture-derived
  * email corpus. */
class Round2Spec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  // ------------------------------------------------------ scale guards

  test("DF cap drops hot shingles from the representation") {
    import spark.implicits._
    // 6 docs sharing one boilerplate shingle (df=6) + disjoint rest
    val sh = (0 until 6).flatMap(i => Seq((i.toLong, 999L), (i.toLong, 100L + i)))
      .toDF("doc_id", "sh")
    val capped = DedupOps.dfCapped(sh, cap = 5)
    assert(capped.filter(col("sh") === 999L).count() == 0)
    assert(capped.count() == 6) // per-doc unique shingles survive
    // cap above max DF → identity (the fixture regime)
    assert(DedupOps.dfCapped(sh, cap = 6).count() == 12)
  }

  test("oversized embedding blocks are sub-split; fixture-size blocks are not") {
    import spark.implicits._
    val vecs = (0 until 40).map(i =>
      (i.toLong, "same_label", Array.fill(4)(1.0f)))
      .toDF("vec_id", "label", "embedding")
    // one 40-vector block of identical vectors: uncapped → C(40,2) pairs
    val uncapped = DedupOps.embeddingPairsFrom(vecs, cap = 1024).count()
    assert(uncapped == 40L * 39 / 2)
    // cap 10 → ceil(40/10)=4 sub-blocks → only within-sub-block pairs
    val split = DedupOps.embeddingPairsFrom(vecs, cap = 10).count()
    assert(split < uncapped && split > 0)
  }

  test("sharded-dictionary minhash LSH matches the broadcast path") {
    val a = DedupOps.minhashLsh(spark, sf).collect().toSeq
    val b = DedupOps.minhashLshSharded(spark, sf).collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("d52 dictionary path auto-selects by estimated dictionary size") {
    // plan shapes asserted on the RAW (uncached) pipeline — the query
    // sites serve registry-cached frames after first touch, and the
    // CacheManager rewrites ANY matching plan (hints are erased in the
    // canonical form) to the InMemoryRelation, so drop the cached
    // frames first to see the real join shapes
    DedupOps.clearCaches()
    val (_, _, small) = DedupOps.lshPipelineRaw(spark, sf, shardDict = false)
    small.collect()
    val smallPlan = small.queryExecution.executedPlan.toString
    assert(smallPlan.contains("BroadcastHashJoin"))
    assert(!smallPlan.contains("ShuffledHashJoin"))
    val (_, _, big) = DedupOps.lshPipelineRaw(spark, sf, shardDict = true)
    big.collect()
    assert(big.queryExecution.executedPlan.toString.contains("ShuffledHashJoin"))
    // the auto decision: fixture corpus is far below the ceiling →
    // broadcast; ceiling 0 → sharded; results identical either way
    assert(DedupOps.estShingles(spark, sf) <= DedupOps.dictBroadcastCeiling)
    assert(DedupOps.minhashLshAuto(spark, sf, ceiling = 0L).collect().toSeq ==
      DedupOps.minhashLsh(spark, sf).collect().toSeq)
  }

  // --------------------------------------------------- depth-3 scan

  test("scan ingests exactly depth-3 files and anchors hierarchy at base") {
    val base = Files.createTempDirectory("graft-depth3").toString
    def put(rel: String): Unit = {
      val p = java.nio.file.Paths.get(base, rel)
      Files.createDirectories(p.getParent)
      Files.write(p, "Message-ID: <x@y>\r\n\r\nhi".getBytes)
    }
    put("alice/inbox/1_")            // depth 3: ingested
    put("alice/inbox/sub/2_")        // depth 4: skipped (ref walk skips)
    put("alice/3_")                  // depth 2: skipped
    val rows = EmailIngest.scan(spark, base)
      .select("user", "folder", "filename").collect()
    assert(rows.map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSet == Set(("alice", "inbox", "1_")))
  }

  test("scan of a dir with no depth-3 files is empty, not an error") {
    val base = Files.createTempDirectory("graft-depth3-empty").toString
    assert(EmailIngest.scan(spark, base).count() == 0)
  }

  // ------------------------------------------- partition-scoped upsert

  test("partitioned upsert rewrites only affected months") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-pstore").toString
    val store = new PartitionedEmailStore(spark, root)
    def doc(id: Int, month: Int): graft.model.EmailDoc =
      graft.codec.Rfc822Parser.parse(
        (s"Message-ID: <p$id@x>\r\nDate: 10 ${Seq("Jan","Feb","Mar")(month)} 2001 10:00:00 +0000\r\n" +
          s"From: a@x.com\r\nTo: b@x.com\r\nSubject: s$id\r\n\r\nbody $id").getBytes,
        "u", "f", s"${id}_")
    def batch(ids: Seq[(Int, Int)]) =
      spark.createDataset(ids.map { case (id, m) => (s"mem://$id", doc(id, m)) })
        .toDF("path", "doc").select(col("path"), col("doc.*"))

    store.upsert(batch(Seq(1 -> 0, 2 -> 1)))     // Jan + Feb
    val janDir = new java.io.File(s"$root/date_month=2001-01")
    val janFiles = janDir.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified())).toSet
    store.upsert(batch(Seq(3 -> 2)))             // Mar only
    val janAfter = janDir.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified())).toSet
    assert(janFiles == janAfter, "untouched month must not be rewritten")
    assert(store.read().count() == 3)

    // duplicate key arriving in a DIFFERENT month merges into the
    // existing row's month (first-writer-wins), no cross-partition dup
    store.upsert(batch(Seq(1 -> 2)))
    val rows = store.read().filter(col("dedupe_key") === "<p1@x>")
      .select("date_month").collect()
    assert(rows.length == 1 && rows.head.getString(0) == "2001-01")
  }

  test("key-index probe reads only the batch's buckets (pruned scan)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-kidx").toString
    val store = new PartitionedEmailStore(spark, root)
    def doc(id: Int, month: Int): graft.model.EmailDoc =
      graft.codec.Rfc822Parser.parse(
        (s"Message-ID: <p$id@x>\r\nDate: 10 ${Seq("Jan","Feb","Mar")(month)} 2001 10:00:00 +0000\r\n" +
          s"From: a@x.com\r\nTo: b@x.com\r\nSubject: s$id\r\n\r\nbody $id").getBytes,
        "u", "f", s"${id}_")
    def batch(ids: Seq[(Int, Int)]) =
      spark.createDataset(ids.map { case (id, m) => (s"mem://$id", doc(id, m)) })
        .toDF("path", "doc").select(col("path"), col("doc.*"))

    store.upsert(batch((1 to 60).map(i => i -> (i % 3))))
    // 60 keys fit one bucket at the default advisory size: rebuild the
    // index at a tiny one so its buckets are many, one file each
    withAdvisorySize("8b") {
      store.index.rebuild(store.read().select("dedupe_key", "date_month"))
    }
    assert(store.index.numBuckets >= 64)
    // incremental path: second upsert exercises probe + bucket refresh
    store.upsert(batch(Seq(61 -> 0, 7 -> 2)))

    val keys = Seq("<p7@x>").toDF("dedupe_key")
    // index agrees with a full-store reference probe: key 7 kept its
    // original month (first-writer-wins), not the second batch's
    val ref = store.read().select("dedupe_key", "date_month")
      .join(keys, Seq("dedupe_key"), "left_semi")
      .select("date_month").distinct().collect().map(_.getString(0)).toSet
    assert(ref == Set("2001-02"))

    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val probe = store.index.monthsFor(keys)
      assert(probe.collect().map(_.getString(0)).toSet == ref)
      // the probe's file scan must be partition-pruned to the one
      // bucket holding the key, not the whole index (let alone the store)
      val plan = probe.queryExecution.executedPlan
      val scanned = plan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numFiles").value
      }.sum
      val totalIdxFiles = {
        def walk(f: java.io.File): Long =
          if (f.isDirectory) f.listFiles().map(walk).sum
          else if (f.getName.endsWith(".parquet")) 1L else 0L
        walk(new java.io.File(store.index.path))
      }
      assert(plan.toString.contains("PartitionFilters"))
      assert(scanned >= 1 && totalIdxFiles >= 20,
        s"scanned=$scanned total=$totalIdxFiles")
      assert(scanned * 4 < totalIdxFiles,
        s"probe not pruned: scanned=$scanned of $totalIdxFiles index files")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }

  test("key-index validity marker: torn refresh falls back to rebuild") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-kmark").toString
    val store = new PartitionedEmailStore(spark, root)
    def doc(id: Int, month: Int): graft.model.EmailDoc =
      graft.codec.Rfc822Parser.parse(
        (s"Message-ID: <p$id@x>\r\nDate: 10 ${Seq("Jan","Feb","Mar")(month)} 2001 10:00:00 +0000\r\n" +
          s"From: a@x.com\r\nTo: b@x.com\r\nSubject: s$id\r\n\r\nbody $id").getBytes,
        "u", "f", s"${id}_")
    def batch(ids: Seq[(Int, Int)]) =
      spark.createDataset(ids.map { case (id, m) => (s"mem://$id", doc(id, m)) })
        .toDF("path", "doc").select(col("path"), col("doc.*"))

    store.upsert(batch(Seq(1 -> 0, 2 -> 1)))
    assert(store.index.exists, "successful upsert must leave a valid index")
    // simulate a crash mid-commit: write() drops the marker before any
    // mutation, so a torn refresh leaves the index looking absent
    val marker = new java.io.File(store.index.path, "_GRAFT_INDEX_OK")
    assert(marker.delete())
    assert(!store.index.exists, "missing marker must invalidate the index")
    // the next upsert must not trust the torn index: it rebuilds from
    // the store and the uniqueness invariant holds across months
    store.upsert(batch(Seq(1 -> 2)))  // duplicate key, different month
    assert(store.index.exists)
    val rows = store.read().filter(col("dedupe_key") === "<p1@x>")
      .select("date_month").collect()
    assert(rows.length == 1 && rows.head.getString(0) == "2001-01")
    val probed = store.index.monthsFor(Seq("<p1@x>").toDF("dedupe_key"))
      .collect().map(_.getString(0)).toSet
    assert(probed == Set("2001-01"))
  }

  test("partitioned vs snapshot store: differential equivalence over random upserts") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val base = Files.createTempDirectory("graft-diff").toString
    val pstore = new PartitionedEmailStore(spark, s"$base/p")
    val sstore = new EmailStore(spark, s"$base/s")
    def doc(id: Int, month: Int): graft.model.EmailDoc =
      graft.codec.Rfc822Parser.parse(
        (s"Message-ID: <r$id@x>\r\nDate: ${1 + id % 27} ${Seq("Jan","Feb","Mar","Apr")(month)} 2001 10:00:00 +0000\r\n" +
          s"From: a$id@x.com\r\nTo: b@x.com\r\nSubject: s$id\r\n\r\nbody $id").getBytes,
        s"u${id % 4}", "f", s"${id}_")
    // 6 random batches with overlapping keys and shifting months — the
    // sequence that exercises index refresh, month keeps, and re-keys
    (1 to 6).foreach { _ =>
      val ids = Seq.fill(1 + rng.nextInt(8))((rng.nextInt(25), rng.nextInt(4)))
      val batch = spark
        .createDataset(ids.map { case (id, m) => (s"mem://$id", doc(id, m)) })
        .toDF("path", "doc").select(col("path"), col("doc.*"))
      pstore.upsert(batch)
      sstore.upsert(batch)
    }
    val a = pstore.read().drop("date_month")
    val b = sstore.read().drop("path")
    val cols = b.columns.sorted.toSeq
    val av = a.select(cols.map(col): _*).orderBy("dedupe_key").collect().toSeq
    val bv = b.select(cols.map(col): _*).orderBy("dedupe_key").collect().toSeq
    assert(av == bv && av.nonEmpty)
    // and the key index agrees with the store it indexes
    val idx = spark.read.parquet(pstore.index.path)
      .select("dedupe_key", "date_month")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val ref = pstore.read().select("dedupe_key", "date_month")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(idx == ref)
  }

  // ------------------------------------------------- composed job API

  test("ingest API: submitArchive → PARSED; empty archive → EMPTY") {
    val dir = Files.createTempDirectory("graft-api")
    // build a zip with one depth-3 message
    val zipPath = dir.resolve("in.zip")
    val zos = new java.util.zip.ZipOutputStream(
      Files.newOutputStream(zipPath))
    zos.putNextEntry(new java.util.zip.ZipEntry("u1/inbox/m1"))
    zos.write("Message-ID: <z1@x>\r\nFrom: a@x.com\r\nTo: b@x.com\r\nSubject: s\r\n\r\nhello".getBytes)
    zos.closeEntry(); zos.close()

    val tracker = new JobTracker(spark, dir.resolve("jobs").toString)
    val store = new EmailStore(spark, dir.resolve("store").toString)
    val api = new IngestApi(spark, tracker, store)

    val jobId = api.submitArchive(zipPath.toString)
    assert(api.pollJob(jobId).contains("PARSED"))
    assert(store.read().filter(col("dedupe_key") === "<z1@x>").count() == 1)

    val emptyZip = dir.resolve("empty.zip")
    val z2 = new java.util.zip.ZipOutputStream(Files.newOutputStream(emptyZip))
    z2.putNextEntry(new java.util.zip.ZipEntry("just_a_file.txt"))
    z2.write("not at depth 3".getBytes)
    z2.closeEntry(); z2.close()
    val j2 = api.submitArchive(emptyZip.toString)
    assert(api.pollJob(j2).contains("EMPTY"))

    // the same composed lifecycle runs against the partitioned backend
    // through the shared DocStore contract
    val pstore = new PartitionedEmailStore(spark,
      dir.resolve("pstore").toString)
    val papi = new IngestApi(spark, tracker, pstore)
    val j3 = papi.submitArchive(zipPath.toString)
    assert(papi.pollJob(j3).contains("PARSED"))
    assert(pstore.read().filter(col("dedupe_key") === "<z1@x>").count() == 1)
  }

  // ------------------------------------------------------ mbox source

  test("mbox ingest: envelope split, >From unescape, merge-ready rows") {
    val dir = Files.createTempDirectory("graft-mbox")
    val mbox =
      "From alice@x.com Thu Jun 14 10:00:00 2001\n" +
        "Message-ID: <mb1@x>\nFrom: alice@x.com\nTo: bob@x.com\n" +
        "Subject: one\n\nbody one\n>From here escaped\n" +
        "From bob@x.com Thu Jun 14 11:00:00 2001\n" +
        "Message-ID: <mb2@x>\nFrom: bob@x.com\nTo: alice@x.com\n" +
        "Subject: two\n\nbody two\n"
    Files.write(dir.resolve("team.mbox"), mbox.getBytes)
    val docs = graft.ingest.MboxIngest.docs(spark, dir.toString)
    assert(docs.count() == 2)
    val one = docs.filter(col("dedupe_key") === "<mb1@x>").collect().head
    assert(one.getAs[String]("body") == "body one\nFrom here escaped")
    val mb = one.getAs[Seq[org.apache.spark.sql.Row]]("mailboxes").head
    assert((mb.getString(0), mb.getString(1)) == ("team", "mbox"))
    assert(EmailStore.mergeBatch(docs).count() == 2)
  }

  // ------------------------------------------------------- viz export

  test("cytoscape export round-trips vertex/edge counts") {
    val store = GraphOps.demoStore(spark)
    val json = EmailGraph.toCytoscapeJson(store)
    val nV = EmailGraph.vertices(store).count()
    val nE = EmailGraph.edges(store).count()
    // each element renders as one {"data":{...}} object
    assert(json.startsWith("{\"nodes\":["))
    assert("\\{\"data\":".r.findAllIn(json).size == nV + nE)
    assert("\"source\":".r.findAllIn(json).size == nE)
  }

  // ------------------------------------------------- fixture corpus

  test("fixture corpus parses every documents row through the pipeline") {
    val store = FixtureCorpus.store(spark, sf)
    val n = Tables.documents(spark, sf).count()
    assert(store.count() == n)
    assert(store.filter(col("dedupe_key") === "<d10@corp>")
      .select("subject").head().getString(0) == "msg 10")
    // reply chain: non-decade-start docs carry In-Reply-To
    val withRef = store.filter(
      element_at(col("headers"), "in-reply-to").isNotNull).count()
    assert(withRef == n - n / 10)
  }

  test("t63 census surfaces every planted entity class (intent, not parity)") {
    // the t63 oracle shares its regex + classification with the Spark
    // side, so a defect in the shared pattern passes the hash gate
    // silently (round-10 case: [A-Z][a-z]+ could never match "LLC" —
    // both engines agreed on the miss). Assert the INTENT separately:
    // every planted suffix-org and a healthy person census must appear.
    val census = graft.ext.Ner.titleCaseNer(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val orgs = census.collect { case ("ORG", text, n) => text -> n }.toMap
    FixtureCorpus.orgNames.zip(FixtureCorpus.orgSuffixes).foreach {
      case (org, suffix) =>
        val name = s"$org $suffix"
        assert(orgs.getOrElse(name, 0L) > 0, s"planted ORG '$name' missing")
    }
    // persons: every first name that lands on an id ≡ 0 (mod 11) row
    val persons = census.collect { case ("PERSON", t, cnt) => t -> cnt }
    assert(persons.nonEmpty && persons.map(_._2).sum > 0)
    // no sequence may be double-classified
    val texts = census.groupBy(_._2).filter(_._2.map(_._1).distinct.size > 1)
    assert(texts.isEmpty, s"double-classified: ${texts.keys}")
  }

  test("charset sniffing: C1 bytes select windows-1252 over latin-1") {
    import graft.codec.Rfc822Parser.smartDecode
    // 0x93/0x94 = curly quotes in cp1252, unassigned controls in latin-1
    val curly = Array[Byte]('h', 'i', 0x93.toByte, 'q', 0x94.toByte)
    assert(smartDecode(curly) == "hi“q”")
    // pure latin-1 high bytes (no C1) keep the latin-1 mapping
    val latin = Array[Byte]('c', 'a', 'f', 0xe9.toByte)
    assert(smartDecode(latin) == "café")
    // valid UTF-8 still wins before the sniffer runs
    assert(smartDecode("grüße".getBytes("UTF-8")) == "grüße")
  }

  test("2-digit RFC-822 years window to 19xx/20xx") {
    import graft.codec.Rfc822Parser.parseDate
    assert(parseDate("10 Jun 01 10:00:00 +0000").get.toInstant.toString
      .startsWith("2001-06-10"))
    assert(parseDate("10 Jun 99 10:00:00 +0000").get.toInstant.toString
      .startsWith("1999-06-10"))
  }

  test("body parity: multipart keeps text/plain attachments; singlepart is unconditional") {
    import graft.codec.Rfc822Parser.parse
    // text/plain part WITH a filename still concatenates into body
    // (ingest_enron.py:85-92 has no filename check in the body loop)
    val multi = parse((
      "Content-Type: multipart/mixed; boundary=B\r\n\r\n" +
        "--B\r\n\r\nmain.\r\n" +
        "--B\r\nContent-Type: text/plain\r\n" +
        "Content-Disposition: attachment; filename=\"a.txt\"\r\n\r\natt.\r\n" +
        "--B--\r\n").getBytes, "u", "f", "1_")
    assert(multi.body == "main.att.")
    assert(multi.attachments.map(_.filename) == Seq("a.txt"))
    // non-multipart html: payload becomes body regardless of type
    val html = parse(
      "Content-Type: text/html\r\n\r\n<b>hi</b>".getBytes, "u", "f", "2_")
    assert(html.body == "<b>hi</b>")
  }
}
