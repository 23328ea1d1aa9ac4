package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{DedupOps, TextOps}
import graft.operators.Sketches

/** Round-21: the round-15 additions — the segmented exact-rank
  * machinery (Sketches.exactRankStat, the t77/t78 single-partition-
  * window restatement), the t79/t81 incremental model absorbs, d75 the
  * LSM generation-turnover serve, and DsirScore64's value-based
  * canonicalization. Pins the properties the shared oracles cannot
  * see: exactness of the bracketed rank against a sorted reference
  * under ties/extremes/step>1 segments, absorb ≡ rebuild at the MODEL
  * level (not just the scored output), segment cohort hygiene, and
  * expression equality semantics. */
class Round21Spec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  // ----------------- exactRankStat: exactness under adversarial input

  test("exactRankStat: exact vs a sorted reference on random multi-group corpora with heavy ties, including a step>1 group") {
    import spark.implicits._
    val rnd = new scala.util.Random(421)
    // group sizes chosen to cross the machinery's regimes: n=1
    // (degenerate), n=40 (single-segment steps of 1 — round 1 already
    // exact), n=700 (multi-segment, step still 1), n=5000 (nseg ≈ 156
    // > 64 → step ≥ 2: nontrivial brackets, eb > 0, a real band pass).
    // cents drawn from an 11-value domain so every bracket boundary
    // lands inside long tie runs — the (cents, uid) tie-break carries
    // the whole total order.
    val data = Seq("g1" -> 1, "g40" -> 40, "g700" -> 700, "g5k" -> 5000)
      .flatMap { case (g, n) =>
        (1 to n).map(i => (g, rnd.nextInt(11).toLong - 5, i.toLong))
      }
    val rows = data.toDF("status", "cents", "uid")
    val targets = data.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
      val n = rs.length.toLong
      Seq(("rk1", 1L), ("rkmid", (n + 1) / 2),
        ("rk95", (n * 95 + 99) / 100), ("rkn", n))
        .map { case (q, rk) => (g, q, rk) }
    }
    val out = Sketches.exactRankStat(rows,
        targets.toDF("status", "qid", "rk"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val ref = data.groupBy(_._1).flatMap { case (g, rs) =>
      val sorted = rs.map(t => (t._2, t._3)).sorted
      targets.filter(_._1 == g).map { case (_, q, rk) =>
        (g, q) -> sorted((rk - 1).toInt)._1
      }
    }
    assert(out.size === targets.size, "one answer row per target")
    ref.foreach { case (k, v) =>
      assert(out(k) === v, s"order statistic at $k: got ${out(k)}, want $v")
    }
  }

  test("exactRankStat: the multi-round bracket path (forced via an injected settle threshold) agrees with the round-0 settle and the sorted reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(137)
    // 5000-row group with an 11-value tie-heavy domain: at
    // settleRows=64 the round-0 settle cannot fire (5000 > 64) and the
    // round-1 band (~n/32 per target ≈ 156 rows) is still > 64, so
    // round 2 runs too — the full bracket round-1/round-2 handoff the
    // fixed-64k threshold left covered only by the sf0.1 verify run
    // (round-16 ADVICE). The default (memory-derived) threshold settles
    // the same corpus at round 0; both must equal the sorted reference.
    val data = (1 to 5000).map(i => ("g", rnd.nextInt(11).toLong - 5, i.toLong))
    val rows = data.toDF("status", "cents", "uid")
    val targets = Seq(("g", "rk1", 1L), ("g", "rkmid", 2500L),
      ("g", "rk95", 4750L), ("g", "rkn", 5000L))
    val tDf = targets.toDF("status", "qid", "rk")
    val sorted = data.map(t => (t._2, t._3)).sorted
    val ref = targets.map { case (_, q, rk) => q -> sorted((rk - 1).toInt)._1 }
      .toMap
    def answers(settleRows: Long): Map[String, Long] =
      Sketches.exactRankStat(rows, tDf, settleRows).collect()
        .map(r => r.getString(1) -> r.getLong(2)).toMap
    val bracketed = answers(64L)
    val settled = answers(Sketches.exactRankSettleRows(spark))
    assert(bracketed === ref, "forced multi-round bracket vs sorted reference")
    assert(settled === ref, "round-0 settle vs sorted reference")
  }

  test("exactRankStat: empty target frame yields an empty result") {
    import spark.implicits._
    val rows = Seq(("a", 1L, 1L)).toDF("status", "cents", "uid")
    val targets = Seq.empty[(String, String, Long)]
      .toDF("status", "qid", "rk")
    assert(Sketches.exactRankStat(rows, targets).collect().isEmpty)
  }

  test("t77/t78: the derived τ singleton equals the reference slice's exact p95 by the plain rank-window spelling") {
    val scored = TextOps.pplScoreFrame(spark, sf).localCheckpoint()
    val tau = TextOps.pplTauFrame(scored).collect()
    assert(tau.length === 1)
    val byLang = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("avg_nlp_micro", "doc_id")
    val refRows = scored
      .filter(col("lang") === "en" && col("avg_nlp_micro").isNotNull)
      .withColumn("rn", row_number().over(byLang))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("lang")))
      .filter(col("rn") === expr("(n * 95 + 99) div 100"))
      .select("avg_nlp_micro").collect()
    assert(refRows.length === 1)
    assert(tau(0).getLong(0) === refRows(0).getLong(0),
      "segmented bracket and rank window must agree on the exact p95")
  }

  // --------------------- t79/t81: absorb ≡ rebuild at the model level

  test("t79: the summed-segments DSIR model is bit-identical to the full-corpus rebuild") {
    val full = TextOps.dsirModel(spark, sf)
    val absorbed = TextOps.dsirModelAbsorbed(spark, sf)
    assert(java.util.Arrays.equals(full, absorbed),
      "per-bucket integer counts are disjoint-additive, so the " +
        "smoothed models must match cell-for-cell")
  }

  test("t81: c2/c1/V all reconstruct exactly from the summed c2 segments") {
    val (c2r, c1r, vr) = TextOps.pplRefLm(spark, sf)
    val merged = TextOps.segment(spark, sf, TextOps.lmTable, "base")
      .unionByName(TextOps.segment(spark, sf, TextOps.lmTable, "delta"))
      .groupBy("w1", "w2").agg(sum("c2").as("c2"))
      .localCheckpoint()
    def set3(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(set3(merged) === set3(c2r), "summed c2 ≡ full-corpus c2")
    def set2(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(set2(merged.groupBy("w1").agg(sum("c2").as("c1")))
      === set2(c1r), "c1(w1) = Σ_w2 c2(w1, w2)")
    val vDerived = merged.agg(count_distinct(col("w2"))).collect()(0)
      .getLong(0)
    assert(vDerived === vr.collect()(0).getLong(0),
      "V = |distinct w2 among c2 keys|")
  }

  test("t82: the retracted model is bit-identical to the model rebuilt on the filtered corpus (zero-count rows ≡ absent rows)") {
    val filtered = TextOps.dsirLrFromCounts(
      TextOps.dsirCountsOf(TextOps.dsirFeaturesOf(
        graft.Tables.documents(spark, sf)
          .filter(col("doc_id") % 10 =!= 7))))
    val rebuilt = TextOps.dsirModelOf(filtered)
    val merged = TextOps.segment(spark, sf, TextOps.dsirTable, "base")
      .unionByName(TextOps.segment(spark, sf, TextOps.dsirTable, "delta"))
      .unionByName(TextOps.segment(spark, sf, TextOps.dsirTable, "retract")
        .select(col("bucket"), col("rcnt").unary_-.as("rcnt"),
          col("tcnt").unary_-.as("tcnt")))
      .groupBy("bucket")
      .agg(sum("rcnt").as("rcnt"), sum("tcnt").as("tcnt"))
    val retracted = TextOps.dsirModelOf(TextOps.dsirLrFromCounts(merged))
    assert(java.util.Arrays.equals(rebuilt, retracted),
      "integer subtraction + add-one smoothing make a zeroed bucket " +
        "equal an absent one, so the two models must match cell-for-cell")
    // the retract is genuinely load-bearing at this fixture: the
    // cohort has features, so retracted != merely-absorbed
    val absorbed = TextOps.dsirModelAbsorbed(spark, sf)
    assert(!java.util.Arrays.equals(absorbed, retracted),
      "fixture sanity: the erasure cohort must actually move the model")
  }

  test("t83: the retracted LM drops zeroed rows so V cannot count a cohort-only w2 (tables ≡ rebuild-without-cohort)") {
    val remaining = graft.Tables.documents(spark, sf)
      .filter(col("doc_id") % 10 =!= 7)
    val refRows = TextOps.bigramRowsOf(remaining)
      .filter(col("lang") === "en").select("w1", "w2")
    val c2Rebuilt = refRows.groupBy("w1", "w2")
      .agg(count(lit(1)).as("c2"))
    val merged = TextOps.segment(spark, sf, TextOps.lmTable, "base")
      .unionByName(TextOps.segment(spark, sf, TextOps.lmTable, "delta"))
      .unionByName(TextOps.segment(spark, sf, TextOps.lmTable, "retract")
        .select(col("w1"), col("w2"), col("c2").unary_-.as("c2")))
      .groupBy("w1", "w2").agg(sum("c2").as("c2"))
      .filter(col("c2") > 0)
      .localCheckpoint()
    def set3(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(set3(merged) === set3(c2Rebuilt),
      "signed sum + zero-row drop must equal the rebuilt ROW SET, " +
        "not just the positive counts — V counts the table's keys")
    val vRetracted = merged.agg(count_distinct(col("w2")))
      .collect()(0).getLong(0)
    val vRebuilt = refRows.agg(count_distinct(col("w2")))
      .collect()(0).getLong(0)
    assert(vRetracted === vRebuilt)
  }

  // ------------- the one-pass cohort segments ≡ their slice scans

  test("segments: each cohort segment of both count tables equals its cohort's slice aggregation in row set and values") {
    val docs = graft.Tables.documents(spark, sf)
    // the cohort predicates spelled out here, not read from TextOps,
    // so a drifted predicate there cannot also move the reference
    val cohorts = Seq(
      "base" -> (col("doc_id") % 5 =!= 4),
      "delta" -> (col("doc_id") % 5 === 4),
      "retract" -> (col("doc_id") % 10 === 7))
    def dsirSlice(p: org.apache.spark.sql.Column) =
      TextOps.dsirCountsOf(TextOps.dsirFeaturesOf(docs.filter(p)))
        .select("bucket", "rcnt", "tcnt")
    def lmSlice(p: org.apache.spark.sql.Column) =
      TextOps.bigramRowsOf(docs.filter(p)).filter(col("lang") === "en")
        .groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
        .select("w1", "w2", "c2")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq.sortBy(_.toString)
    for ((tag, p) <- cohorts) {
      val dsirRef = rows(dsirSlice(p))
      assert(dsirRef.nonEmpty, s"fixture sanity: dsir/$tag has rows")
      assert(rows(TextOps.segment(spark, sf, TextOps.dsirTable, tag)
          .select("bucket", "rcnt", "tcnt")) === dsirRef,
        s"dsir/$tag segment ≡ its slice scan")
      val lmRef = rows(lmSlice(p))
      assert(lmRef.nonEmpty, s"fixture sanity: ppl/$tag has rows")
      assert(rows(TextOps.segment(spark, sf, TextOps.lmTable, tag)
          .select("w1", "w2", "c2")) === lmRef,
        s"ppl/$tag segment ≡ its slice scan")
    }
  }

  // ------------------------- d75: segment hygiene across the turnover

  test("d75: the delta2 segment carries only its own cohort and the gate verdicts only the probe cohort") {
    val dir = DedupOps.windexDeltaDir(spark, sf, gen = 2)
    val segIds = spark.read.parquet(s"$dir/windex")
      .select("base_id").distinct().collect().map(_.getLong(0))
    assert(segIds.forall(_ % 20 == 9),
      "the delta2 segment must hold exactly the %20==9 cohort's windows")
    val out = DedupOps.queries("d75_windex_regen_absorb")(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[Long]("doc_id") % 20 == 19),
      "the post-turnover gate probes exactly the %20==19 cohort")
  }

  // ------------- DsirScore64: value-based canonicalization (round-14
  // advice: reference-identity equals disabled CSE across twins)

  test("DsirScore64: separately-built identical models compare equal; different models do not") {
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val child = BoundReference(0, ArrayType(StringType), nullable = true)
    val a = graft.functions.DsirScore64(child,
      Array.tabulate(256)(_.toLong))
    val b = graft.functions.DsirScore64(child,
      Array.tabulate(256)(_.toLong))
    val c = graft.functions.DsirScore64(child,
      Array.tabulate(256)(i => i.toLong + 1))
    assert(a === b, "identical models must canonicalize equal")
    assert(a.hashCode === b.hashCode)
    assert(a.semanticEquals(b), "Catalyst semantic equality (CSE gate)")
    assert(a !== c, "distinct models must not compare equal")
  }

  // shared-registry hygiene: these suites run in one JVM — drop the
  // artifacts this suite built so no temp dirs leak past the run
  test("zz cleanup (not a behavior test)") {
    TextOps.clearModelSegs()
    DedupOps.clearCaches()
  }
}
