package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.TextOps
import graft.query.EmailOps

/** Round-19: the data-selection tier (t74 DSIR importance weights +
  * e125's frozen-model row-local scorer) and the linkable
  * pseudonymized release (em76). Pins (1) the DSIR selection rule and
  * feature accounting, (2) batch-estimator vs literal-map-scorer plan
  * equality plus the unseen-bucket default path the shared oracle can
  * never reach (the stream feeds the same corpus the model was
  * estimated on), and (3) em76's ORG-before-PERSON pass order, the
  * no-leak guarantee, and pseudonym linkability (same address ⇒ same
  * pseudonym; released rows still join into the same graph). */
class Round19Spec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  // --------------------------------- t74 selection rule + accounting

  test("t74: selected ⇔ w_micro > 0, and n_feats = max(0, n_tokens − 1) per doc") {
    val out = TextOps.dsirWeights(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Boolean]("selected") === (r.getAs[Long]("w_micro") > 0L),
        s"selection must be the row-local sign rule: $r")
    }
    val expected = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        greatest(size(TextOps.tokens(col("text"))).cast("long") - 1L, lit(0L))
          .as("exp_feats"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      assert(r.getAs[Long]("n_feats") === expected(r.getAs[Long]("doc_id")),
        "every bigram occurrence is exactly one hashed feature")
    }
  }

  test("t74: the estimator discriminates — the target slice (en) outscores the rest on average") {
    val rows = TextOps.dsirWeights(spark, sf)
      .groupBy(col("lang") === "en")
      .agg(avg(col("w_micro")).as("w")).collect()
      .map(r => r.getBoolean(0) -> r.getAs[Double]("w")).toMap
    assert(rows(true) > 0, "target docs must average a positive log-ratio")
    assert(rows(false) < rows(true),
      "non-target docs must average strictly lower")
  }

  // ----------------- e125 scorer core: plan equality + default path

  // (round 14: t74 itself now scores through dsirScoreOf's codegen
  // expression, so this is no longer a cross-plan check — it stays as
  // the bounded-model + raw-parquet-input contract; the cross-plan
  // pins live in Round20Spec's DsirScore64 tests and the shared
  // oracle)
  test("dsirScoreOf: the dense model is bucket-bounded and scores raw documents identically to the t74 entry") {
    val model = TextOps.dsirModel(spark, sf)
    assert(model.length === TextOps.dsirBuckets,
      "the dense model is exactly the bucket count, never the corpus")
    val batch = TextOps.dsirWeights(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSet
    val local = TextOps.dsirScoreOf(
      spark.read.parquet(s"$sf/documents.parquet"), model)
      .select("doc_id", "lang", "n_feats", "w_micro", "selected").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSet
    assert(local === batch)
  }

  test("dsirScoreOf: a bigram the frozen model never saw scores the unseen-bucket default") {
    import spark.implicits._
    // the dense model pre-fills unobserved buckets with the sentinel
    // default, so an all-default model must score exactly
    // n_feats × default whatever the input hashes to
    val dflt = -123456L
    val docs = Seq((1L, "qqq www eee", "xx"), (2L, "one", "xx"))
      .toDF("doc_id", "text", "lang")
    val out = TextOps.dsirScoreOf(docs, Array.fill(TextOps.dsirBuckets)(dflt))
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_feats"), r.getAs[Long]("w_micro"))).toMap
    assert(out(1L) === ((2L, 2L * dflt)))
    assert(out(2L) === ((0L, 0L)), "a <2-token doc scores 0, not null")
  }

  // ------------------ t75 perplexity filter vs the frozen reference

  test("t75: keep ⇔ bigram evidence exists AND avg_nlp ≤ τ; zero-bigram docs carry a null average and are dropped") {
    val out = TextOps.queries("t75_ppl_filter")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val n = r.getAs[Long]("n_bigrams")
      val avgIdx = r.fieldIndex("avg_nlp_micro")
      if (n == 0L) {
        assert(r.isNullAt(avgIdx), "no evidence → no average")
        assert(!r.getAs[Boolean]("keep"), "no evidence ≠ reference-like")
      } else {
        assert(r.getAs[Boolean]("keep") ===
          (r.getLong(avgIdx) <= TextOps.pplKeepTauMicro))
      }
    }
  }

  test("t75: the reference slice filters itself in — en keeps at a higher rate than the out-of-domain languages") {
    val rates = TextOps.queries("t75_ppl_filter")(spark, sf)
      .groupBy(col("lang") === "en")
      .agg(avg(when(col("keep"), 1.0).otherwise(0.0)).as("rate"))
      .collect().map(r => r.getBoolean(0) -> r.getAs[Double]("rate")).toMap
    assert(rates(true) > rates(false),
      s"reference-like docs must survive the reference LM filter: $rates")
  }

  test("t75: an out-of-reference bigram scores the add-one floor, never a null") {
    import spark.implicits._
    val bg = Seq((1L, "xx", "qq", "zz")).toDF("doc_id", "lang", "w1", "w2")
    val c2 = Seq(("a", "b", 3L)).toDF("w1", "w2", "c2")
    val c1 = Seq(("a", 3L)).toDF("w1", "c1")
    val v = Seq(Tuple1(10L)).toDF("v")
    val lpm = TextOps.pplScoreRows(bg, c2, c1, v, identity)
      .select("lpm").head().getLong(0)
    // unseen left context: ln((0+1)/(0+10)) = -ln 10
    assert(lpm === math.round(math.log(0.1) * 1e6))
  }

  // ------------------- d71/d72 window-index lifecycle (erasure path)

  test("d71/d72: compaction preserves the tombstoned gate bit-for-bit and retires every erased row") {
    import graft.ext.DedupOps
    val gate = DedupOps.queries("d71_windex_tombstones")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val compacted = DedupOps.queries("d72_windex_compacted")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(gate === compacted,
      "serving the sidecar and serving the fold must agree bit-for-bit")
    val resid = spark.read
      .parquet(s"${DedupOps.compactedWindexDir(spark, sf)}/windex")
      .filter(col("base_id") % 10 === 3).count()
    assert(resid === 0L, "the compacted artifact may hold no erased rows")
  }

  test("d72: the compacted artifact's rows are the base window index minus the tombstoned base_ids") {
    import graft.ext.DedupOps
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("hw", "base_id", "pa").collect().map(_.toSeq).toSeq
        .sortBy(_.toString)
    val base = spark.read
      .parquet(s"${DedupOps.windowIndexDir(spark, sf)}/windex")
    assert(base.filter(col("base_id") % 10 === 3).count() > 0L,
      "fixture sanity: the tombstone cohort has index rows")
    assert(rows(spark.read
        .parquet(s"${DedupOps.compactedWindexDir(spark, sf)}/windex"))
      === rows(base.filter(col("base_id") % 10 =!= 3)),
      "compaction keeps every live base row and nothing else")
  }

  test("d71: the tombstones are load-bearing — erasing the cohort changes the gate's census") {
    import graft.ext.DedupOps
    val sf01 = "/root/testdata/sf0.01"
    val gate = DedupOps.queries("d71_windex_tombstones")(spark, sf01)
      .collect().map(_.toSeq).toSeq
    val plain = DedupOps.queries("d66_incr_substring_dedup")(spark, sf01)
      .collect().map(_.toSeq).toSeq
    assert(gate !== plain,
      "at sf0.01 some matched run's base doc falls in the erased cohort")
  }

  // -------------------- d73 window-index absorb (the delta segment)

  test("d73: the absorb write is O(batch) — the delta segment holds exactly the half-batch's raw windows, none of the base") {
    import graft.ext.DedupOps
    val delta = DedupOps.windexDeltaDir(spark, sf)
    val rows = spark.read.parquet(s"$delta/windex")
    assert(rows.filter(col("base_id") % 10 =!= 4).count() === 0L,
      "only absorbed-batch documents may appear in the delta")
    val expected = DedupOps.windowFrame(
      spark.read.parquet(s"$sf/documents.parquet")
        .filter(col("doc_id") % 10 === 4)).count()
    assert(rows.count() === expected,
      "raw un-capped batch windows — the hot decision belongs to serve")
  }

  test("d73: the absorbed delta is load-bearing — the second half-batch sees runs the base alone cannot witness") {
    import graft.ext.DedupOps
    // sf0.1, not the usual sf0.001/sf0.01: the planted duplicate pairs
    // are ~0.16% of docs, and the first fixture size where some pair
    // spans the absorbed (%10=4) and probed (%10=9) halves is sf0.1
    // (verified: 19↔2994, 134↔1459, … — none at sf0.01)
    val sfTenth = "/root/testdata/sf0.1"
    val absorbed = DedupOps.queries("d73_windex_absorb")(spark, sfTenth)
      .collect().map(_.toSeq).toSeq
    // the same probe against the BASE index only (no delta): d70's
    // serve path with d73's batch and seeds
    val baseIdx = spark.read
      .parquet(s"${DedupOps.windowIndexDir(spark, sfTenth)}/windex")
    val batchW = DedupOps.windowFrame(
      spark.read.parquet(s"$sfTenth/documents.parquet")
        .filter(col("doc_id") % 10 === 9))
      .select(col("hw"), col("doc_id"), col("pos").as("pb"))
    val baseOnly = DedupOps.incrSubstringFinish(spark, sfTenth,
      batchW.join(baseIdx, Seq("hw"))
        .select("doc_id", "base_id", "pb", "pa"),
      seedPred = col("doc_id") % 10 === 9)
      .collect().map(_.toSeq).toSeq
    assert(absorbed !== baseOnly,
      "at sf0.1 some probe doc matches a run only in the absorbed half")
  }

  // ------------------------------- em76 pass order / leak / linkability

  private def releaseOf(rows: Seq[(String, String, Seq[String], String)]) = {
    import spark.implicits._
    EmailOps.pseudoReleaseOf(
      rows.toDF("dedupe_key", "from", "to", "subject")
        .withColumn("cc", array().cast("array<string>"))
        .withColumn("bcc", array().cast("array<string>")))
      .collect().map(r => r.getAs[String]("dedupe_key") -> r).toMap
  }

  test("em76: ORG pass runs first — a suffix-terminated run becomes <ORG>, never <PERSON>") {
    val out = releaseOf(Seq(
      ("k1", "a@x.com", Seq("t@x.com"), "Acme Inc"),
      ("k2", "a@x.com", Seq("t@x.com"), "Alice Johnson of Acme Inc"),
      ("k3", "a@x.com", Seq("t@x.com"), "Alice Johnson"),
      ("k4", "a@x.com", Seq("t@x.com"), "msg 7 all lower case")))
    assert(out("k1").getAs[String]("red_subject") === "<ORG>")
    assert(out("k2").getAs[String]("red_subject") === "<PERSON> of <ORG>")
    assert(out("k3").getAs[String]("red_subject") === "<PERSON>")
    assert(out("k4").getAs[String]("red_subject") === "msg 7 all lower case")
    assert(out("k2").getAs[Long]("n_person") === 1L)
    assert(out("k2").getAs[Long]("n_org") === 1L)
  }

  test("em76: released subjects leak no title-case mention; counts agree with the scrub") {
    val rel = EmailOps.queries("em76_pseudo_release")(spark, sf).collect()
    assert(rel.nonEmpty)
    val titleSeq = graft.ext.Ner.titleSeqPattern.r
    rel.foreach { r =>
      val red = r.getAs[String]("red_subject")
      val residual = titleSeq.findAllIn(red).toList
      assert(residual.isEmpty, s"leaked mention(s) $residual in '$red'")
      assert((r.getAs[Long]("n_person") > 0) === red.contains("<PERSON>"))
      assert((r.getAs[Long]("n_org") > 0) === red.contains("<ORG>"))
    }
    assert(rel.exists(_.getAs[Long]("n_person") > 0),
      "fixture must exercise the scrub (every 11th subject)")
  }

  test("em76: pseudonyms are linkable (same address ⇒ same token) and non-trivial") {
    val out = releaseOf(Seq(
      ("k1", "alice@corp.com", Seq("t@x.com", "bob@corp.com"), "s1"),
      ("k2", "alice@corp.com", Seq("t@x.com"), "s2"),
      ("k3", "bob@corp.com", Seq("t@x.com", "alice@corp.com"), "s3")))
    val a1 = out("k1").getAs[String]("pseudo_from")
    assert(a1 === out("k2").getAs[String]("pseudo_from"),
      "one sender must release as one pseudonym (graph preserved)")
    assert(out("k3").getAs[String]("pseudo_to").split(",").contains(a1),
      "the SAME address pseudonymizes identically across columns")
    assert(a1 !== out("k3").getAs[String]("pseudo_from"),
      "distinct addresses must not collide")
    assert(!a1.contains("alice"), "the pseudonym must not embed the address")
    assert(out("k2").getAs[String]("pseudo_to").split(",").length === 1,
      "a single-recipient row releases a single-pseudonym to-list")
    assert(out("k1").getAs[String]("pseudo_to").split(",").length === 2,
      "the FULL recipient list releases (round-13 verdict: no probe)")
    assert(out("k1").getAs[String]("pseudo_cc") === "",
      "an empty cc releases as an empty string, not a null")
  }
}
