package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-15 operators: the sparse-index lifecycle closure — s95
  * tombstone deletes on the served BM25 index (the delete SEGMENT:
  * tombstone list + the cohort's df/stats counts, summed negated) and s96
  * segment compaction (base + append deltas + delete segment folded
  * into a fresh single-segment artifact). The oracle gate proves both
  * rank bit-identically to a from-scratch BM25 over the surviving
  * corpus; these tests pin the mechanics the hash can't express —
  * base segments surviving a delete byte-identical, non-opt-in
  * readers seeing no change, delete idempotence (the D7 retry
  * discipline), and the compacted artifact's layout contract. */
class Round15Spec extends AnyFunSuite with SparkSpec {

  import graft.ext.SimilarityOps

  /** Synthetic corpus covering every fixed query term; the s95 cohort
    * (doc_id % 10 == 3 → ids 3 and 13) monopolizes the term "query",
    * so the delete also exercises a term whose df drops to ZERO. */
  private def mkDocs(ids: Seq[Long]) = {
    import spark.implicits._
    ids.map { i =>
      val extra =
        if (i % 10 == 3) "spark spark spark query query"
        else s"hash table tok$i"
      (i, s"spark join stream window filter $extra")
    }.toDF("doc_id", "text")
  }

  /** Two-segment artifact (the s88 shape) over docs 0..13. */
  private def freshArtifact(): String = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-s95-spec").toString
    SimilarityOps.writeBm25Segment(mkDocs(0L to 9L), s"$dir/base")
    SimilarityOps.writeBm25Segment(mkDocs(10L to 13L), s"$dir/delta")
    dir
  }

  /** The artifact's add segments: [base, delta]. */
  private def segs(dir: String) = Seq("base", "delta")
    .map(n => SimilarityOps.Segment(s"$dir/$n"))

  /** The s95 delete step on the artifact: its delete segment. */
  private def deleteCohort(dir: String) =
    SimilarityOps.bm25DeleteCohort(spark, segs(dir))

  private def serve(segs: Seq[SimilarityOps.Segment]) =
    SimilarityOps.serveBm25(spark, segs)
      .collect().map(_.toSeq).toSeq

  private def fileCensus(dir: String, sub: String): Map[String, Long] =
    Seq("base", "delta").flatMap { seg =>
      new java.io.File(s"$dir/$seg/$sub").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => s"$seg/${f.getName}" -> f.length())
    }.toMap

  test("s95 delete: cohort gone, stats exact, non-opt-in serving untouched") {
    val dir = freshArtifact()
    val before = serve(segs(dir))
    val census = Seq("postings", "dfreq", "stats")
      .map(s => s -> fileCensus(dir, s)).toMap

    val delSeg = deleteCohort(dir)

    // base + append segments survive byte-identical (delete = a new
    // segment only, never a rewrite)
    Seq("postings", "dfreq", "stats").foreach { sub =>
      assert(fileCensus(dir, sub) == census(sub),
        s"$sub was rewritten by the delete step")
    }
    // a reader that doesn't opt in sees NO change
    assert(serve(segs(dir)) == before)

    val del = serve(segs(dir) :+ delSeg)
    def cohort(rows: Seq[Seq[Any]]) =
      rows.filter(_(2).asInstanceOf[Long] % 10 == 3)
    assert(cohort(before).nonEmpty, "cohort never ranked — vacuous test")
    assert(cohort(del).isEmpty)

    // THE stats contract: tombstone serving must equal a from-scratch
    // index over the survivors — same postings, same df, same N/Σdl,
    // hence bit-identical scores (not just the same doc set)
    val scratch = java.nio.file.Files
      .createTempDirectory("graft-s95-scratch").toString
    SimilarityOps.writeBm25Segment(
      mkDocs((0L to 13L).filter(_ % 10 != 3)), scratch)
    assert(del == serve(Seq(SimilarityOps.Segment(scratch))))
  }

  test("s95 delete is idempotent (D7 retry discipline)") {
    val dir = freshArtifact()
    val delSeg = deleteCohort(dir)
    val once = serve(segs(dir) :+ delSeg)
    val tombOnce = spark.read.parquet(s"$dir/del/tombstones")
      .collect().map(_.getLong(0)).sorted.toSeq
    deleteCohort(dir)
    assert(serve(segs(dir) :+ delSeg) == once)
    val tombTwice = spark.read.parquet(s"$dir/del/tombstones")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(tombTwice == tombOnce && tombOnce == Seq(3L, 13L))
  }

  test("s96 compaction: layout pinned, ranking preserved, source intact") {
    val dir = freshArtifact()
    val deleted = segs(dir) :+ deleteCohort(dir)
    val tombServe = serve(deleted)

    val out = java.nio.file.Files
      .createTempDirectory("graft-s96-spec").toString
    SimilarityOps.foldBm25(spark, deleted, out)

    // layout contract: single segment — exactly one df row per term,
    // all positive; exactly the three base tables; no tombstoned doc
    // in postings
    val dfreq = spark.read.parquet(s"$out/dfreq")
    assert(dfreq.groupBy("term").count().filter(col("count") > 1).count() == 0)
    assert(dfreq.filter(col("df") <= 0).count() == 0)
    assert(!dfreq.select("term").collect().map(_.getString(0))
      .contains("query"), "a fully-deleted term must leave the dfreq")
    assert(new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet == Set("postings", "dfreq", "stats"))
    assert(spark.read.parquet(s"$out/postings")
      .filter(col("doc_id") % 10 === 3).count() == 0)
    assert(spark.read.parquet(s"$out/stats").count() == 1)
    // exact folded stats: 12 survivors x 8 tokens each
    val st = spark.read.parquet(s"$out/stats").head()
    assert(st.getAs[Long]("n_docs") == 12L)
    assert(st.getAs[Long]("sum_dl") == 96L)

    // the plain single-segment read path over the compacted artifact
    // ranks exactly like the delta+tombstone path over the source
    assert(serve(Seq(SimilarityOps.Segment(out))) == tombServe)

    // the source artifact is never touched by compaction
    assert(serve(deleted) == tombServe)
  }

  test("s97 compaction: sidecar retired, serving preserved, source intact") {
    val d = "/root/testdata/sf0.001"
    val tombServe = SimilarityOps.ivfPqTombstoned(spark, d)
      .collect().map(_.toSeq).toSeq
    val plainServe = SimilarityOps.ivfPqKnnServed(spark, d)
      .collect().map(_.toSeq).toSeq
    val compServe = SimilarityOps.ivfPqCompacted(spark, d)
      .collect().map(_.toSeq).toSeq
    // compaction preserves the tombstoned ranking bit-for-bit, and
    // the two servings genuinely differ (the fold is non-vacuous)
    assert(compServe == tombServe)
    assert(compServe != plainServe)
    // the source artifact is untouched: both old-artifact readers
    // still see their own views after the compaction
    assert(SimilarityOps.ivfPqKnnServed(spark, d)
      .collect().map(_.toSeq).toSeq == plainServe)
    assert(SimilarityOps.ivfPqTombstoned(spark, d)
      .collect().map(_.toSeq).toSeq == tombServe)
  }

  test("s97 fold layout: no cohort rows, frozen model carried, no sidecars") {
    import spark.implicits._
    // a tiny synthetic artifact: 6 members/codes, cohort = {5, 18}
    val src = java.nio.file.Files
      .createTempDirectory("graft-s97-src").toString
    val ids = Seq(1L, 4L, 5L, 7L, 18L, 20L)
    ids.map(i => (i, i % 3)).toDF("vec_id", "cid")
      .write.parquet(s"$src/members")
    ids.flatMap(i => Seq(0, 1).map(j => (i, j, i % 4)))
      .toDF("vec_id", "j", "cid").write.parquet(s"$src/codes")
    Seq((0L, Seq(1.0, 2.0)), (1L, Seq(3.0, 4.0)))
      .toDF("cid", "cv").write.parquet(s"$src/centroids")
    Seq((0, 0L, Seq(1.0)), (1, 1L, Seq(2.0)))
      .toDF("j", "cid", "cv").write.parquet(s"$src/codebooks")
    val del = java.nio.file.Files
      .createTempDirectory("graft-s97-del").toString
    Seq(5L, 18L).toDF("vec_id").write.parquet(s"$del/tombstones")

    val out = java.nio.file.Files
      .createTempDirectory("graft-s97-out").toString
    SimilarityOps.foldAdc(spark, Seq(SimilarityOps.Segment(src),
      SimilarityOps.Segment(del, delete = true)), out)

    assert(spark.read.parquet(s"$out/members")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 4L, 7L, 20L))
    assert(spark.read.parquet(s"$out/codes")
      .select("vec_id").distinct()
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 4L, 7L, 20L))
    // the frozen model rides along unchanged
    assert(spark.read.parquet(s"$out/centroids").count() == 2)
    assert(spark.read.parquet(s"$out/codebooks").count() == 2)
    assert(!new java.io.File(s"$out/tombstones").exists())
  }

  test("em74 retention: unknown partition survives, expired key self-heals") {
    val d = "/root/testdata/sf0.001"
    val docs0 = graft.query.FixtureCorpus.parsedDocs(spark, d)
      .filter(col("doc_id") < 40)
      .withColumn("date",
        expr("timestampadd(MONTH, CAST(doc_id % 12 AS INT), date)"))
    // doc 13 gets a NULL date → lands in the `unknown` partition
    val docs = docs0
      .withColumn("date",
        when(col("doc_id") === 13L, lit(null).cast("timestamp"))
          .otherwise(col("date")))
    val root = java.nio.file.Files
      .createTempDirectory("graft-em74-spec").toString
    val store = new graft.store.PartitionedEmailStore(spark, root + "/store")
    try {
      store.upsert(docs.drop("doc_id"))
      val dropped = store.retain("2001-11")
      assert(dropped.nonEmpty && dropped.forall(_ < "2001-11"))
      // the unknowable-age row is never silently destroyed
      assert(store.fileCensus().contains("unknown"))
      assert(store.read().filter(col("dedupe_key") === "<d13@corp>")
        .count() == 1)
      // every expired key is really gone
      assert(store.read()
        .filter(col("date_month") < "2001-11" &&
          col("date_month") =!= "unknown").count() == 0)
      // doc 0 (month 2001-05) was expired, and its index entry with
      // it — re-inserting the key must land it cleanly and index it
      // under the new month
      assert(store.read().filter(col("dedupe_key") === "<d0@corp>")
        .count() == 0)
      val fresh = docs0.filter(col("doc_id") === 0L).drop("doc_id")
        .withColumn("date", expr("timestampadd(MONTH, 12, date)"))
      store.upsert(fresh)
      val re = store.read().filter(col("dedupe_key") === "<d0@corp>")
      assert(re.count() == 1)
      assert(re.head().getAs[String]("date_month") == "2002-05")
      import spark.implicits._
      val months = store.index
        .monthsFor(Seq("<d0@corp>").toDF("dedupe_key"))
        .collect().map(_.getString(0)).toSeq
      assert(months == Seq("2002-05"),
        s"index entry not refreshed after re-insert: $months")
    } finally graft.Fs.deleteTree(root)
  }

  test("g104 absorb: transitive merges, new vertices, no-ops on hand graphs") {
    import spark.implicits._
    val baseEdges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
      .toDF("src", "dst")
    val baseLabels = graft.graph.EmailGraph
      .componentsLargeSmallStar(spark, baseEdges)
    // sanity on the base: three components labeled by min member
    val base = baseLabels.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(base == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
    // batch: (3,11)+(11,21) TRANSITIVELY merge all three base comps
    // (the merge must chain through the quotient graph, not just
    // pairwise); (40,41)+(30,40) build an all-new component; (20,21)
    // duplicates an existing edge (absorb must be a no-op for it)
    val batch = Seq((3L, 11L), (11L, 21L), (40L, 41L), (30L, 40L),
      (20L, 21L)).toDF("p1", "p2")
    val got = graft.graph.GraphOps
      .absorbEdgesIntoCc(spark, baseLabels, batch)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L, 11L -> 1L,
      20L -> 1L, 21L -> 1L,
      30L -> 30L, 40L -> 30L, 41L -> 30L))
  }

  test("d63 mechanics: exact-copy leak flags, argmax ties to smallest bench id") {
    import spark.implicits._
    import graft.ext.DedupOps
    val mk = (rows: Seq[(Long, Seq[Float])]) =>
      rows.toDF("vec_id", "embedding")
    val bench = DedupOps.normedVectors(mk(Seq(
      1L -> Seq(1f, 0f), 2L -> Seq(0f, 1f)))).toDF("b_id", "bv", "bn")
    val corpus = DedupOps.normedVectors(mk(Seq(
      10L -> Seq(2f, 0f),    // exact direction copy of bench 1 → cos 1
      11L -> Seq(1f, 1f),    // equidistant from both → tie, bench 1
      12L -> Seq(0f, -3f)))) // best is cos 0 vs bench 1 → clean
    val got = DedupOps.contamVerdict(DedupOps.contamScores(corpus, bench))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got(10L) == (1L, 1000000L, "contaminated"))
    assert(got(11L) == (1L, 707107L, "contaminated")) // tie → smallest
    assert(got(12L) == (1L, 0L, "clean"))
  }

  test("e119 stateless cell assignment == kmAssign incl. exact-distance tie") {
    import spark.implicits._
    val e = SimilarityOps.quantizeFrame(Seq(
      1L -> Seq(0.9f, 0.1f), 2L -> Seq(0.1f, 1.2f),
      3L -> Seq(0f, 0f), // equidistant from both centroids → exact tie
      4L -> Seq(-0.7f, 0.2f)).toDF("vec_id", "embedding"))
    val centE = SimilarityOps.quantizeFrame(Seq(
      10L -> Seq(1f, 0f), 11L -> Seq(0f, 1f)).toDF("vec_id", "embedding"))
    val cent = centE.select(col("vec_id").as("cid"), col("qv").as("cv"))
    val centSeq = centE.select("vec_id", "qv").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).sortBy(_._1).toSeq
    val viaAgg = SimilarityOps.kmAssign(e, cent)
      .select("vec_id", "cid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaFold = SimilarityOps.kmAssignStateless(e, centSeq)
      .select("vec_id", "cid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaAgg == viaFold)
    assert(viaFold(3L) == 10L) // both paths break the tie to smallest cid
    // the literal fold's tie rule depends on cid-ascending order: enforced
    intercept[IllegalArgumentException] {
      SimilarityOps.kmAssignStateless(e, centSeq.reverse)
    }
  }

  test("s99 health census: hot threshold, empty-side null means, exact div") {
    import spark.implicits._
    // n = 12 vectors over k = 3 cells: cell 0 holds 9 (9×3 > 2×12 →
    // hot), cell 1 is base-only, cell 2 batch-only
    val scored = Seq(
      (0L, 1L, 10L, true), (0L, 2L, 11L, true), (0L, 3L, 12L, true),
      (0L, 4L, 13L, true), (0L, 5L, 14L, true), (0L, 6L, 15L, true),
      (0L, 7L, 7L, false), (0L, 8L, 8L, false), (0L, 9L, 9L, false),
      (1L, 10L, 5L, true), (1L, 11L, 6L, true),
      (2L, 12L, 42L, false)
    ).toDF("cid", "vec_id", "d2", "is_base")
    val got = SimilarityOps.healthCensusOf(scored, 12L, 3).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    // cell 0: base mean 75 div 6 = 12 (12.5 TRUNCATES — the exact
    // integer rule), batch mean 24 div 3 = 8, share 9e6 div 12
    assert(got(0).getString(7) == "hot")
    assert(got(0).getLong(5) == 12L && got(0).getLong(6) == 8L)
    assert(got(0).getLong(4) == 750000L)
    // cell 1 has no batch members → NULL batch mean, 2×3 < 24 → ok
    assert(got(1).isNullAt(6) && got(1).getString(7) == "ok")
    // cell 2 has no base members → NULL base mean
    assert(got(2).isNullAt(5) && got(2).getLong(6) == 42L)
  }

  test("s100 bm25 health: hot stopword flagged, exact ppm and micro means") {
    import spark.implicits._
    // 4 terms over 10 posting rows; 'the' holds 6 lists → 6×4 > 2×10
    val p = Seq(
      ("the", 1L, 5L), ("the", 2L, 3L), ("the", 3L, 1L),
      ("the", 4L, 2L), ("the", 5L, 1L), ("the", 6L, 3L),
      ("spark", 1L, 2L), ("spark", 7L, 1L),
      ("join", 2L, 1L), ("scan", 9L, 7L)
    ).toDF("term", "doc_id", "tf")
    val got = SimilarityOps.bm25HealthOf(p).collect()
      .map(r => r.getString(0) -> r).toMap
    val t = got("the")
    assert(t.getLong(1) == 6L && t.getLong(2) == 15L) // df, total_tf
    assert(t.getLong(3) == 600000L)                   // share 6e6 div 10
    assert(t.getLong(4) == 2500000L)                  // mean 15e6 div 6
    assert(t.getString(5) == "hot")
    assert(got("spark").getString(5) == "ok"
      && got("spark").getLong(4) == 1500000L)
    assert(got("scan").getLong(4) == 7000000L)
  }

  test("g105 prSteps: hand-computed fixed-point step and warm init carry") {
    import spark.implicits._
    import graft.graph.GraphOps
    // 1 → 2 (deg 1), both at uniform 1e6: after one step,
    // v1 = teleport only = 150000; v2 = 150000 + (1e6 div 1 * 85) div
    // 100 = 1000000 — pins the integer teleport/damping arithmetic
    // the four PR ops now share
    val ed = Seq((1L, 2L, 1L)).toDF("src", "dst", "deg")
    val r0 = Seq((1L, 1000000L), (2L, 1000000L)).toDF("id", "rank")
    val one = GraphOps.prSteps(r0, ed, 1, _ => lit(150000L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one == Map(1L -> 150000L, 2L -> 1000000L))
    // warm start from a non-uniform state: v2's carried rank feeds
    // v1 nothing (edge is 1→2), so a second step from `one` keeps
    // v1 at teleport and pays v2 only v1's damped contribution
    val two = GraphOps.prSteps(
        Seq((1L, 150000L), (2L, 1000000L)).toDF("id", "rank"),
        ed, 1, _ => lit(150000L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(two == Map(1L -> 150000L, 2L -> (150000L + 150000L * 85 / 100)))
  }
}
