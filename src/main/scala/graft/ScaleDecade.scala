package graft

import org.apache.spark.sql.functions._

/** Second scale decade (sf1 → sf10, documents ×10 again) for the three
  * tiers whose sf0.1→sf1 exponents were ≥ 0.85 — close enough to
  * linear that curvature is invisible in one decade (round-9 verdict
  * item 5): d59_passage_dedup, t61_bigram_lm, cache_dedup_frames.
  *
  * Only documents is generated at sf10 (these tiers scan nothing
  * else). The dedup warm is decomposed: its linear components (hashed
  * shingles, SimHash signatures, the d52 LSH pipeline) are timed at
  * both volumes, and the d51/d55 exact scored-pair build is GUARDED by
  * an exact candidate-volume measurement first — on this vocab-
  * saturated fixture corpus candidates grow ~quadratically with docs
  * (SCALE.md investigation), so the build is run only when its
  * candidate volume fits the box (disk-backed shuffle spill), and is
  * otherwise reported as skipped WITH the measured candidate count, so
  * the JSON never silently under-claims. The pair tier's cost-per-
  * candidate exponent (0.44–0.48) was measured across sf0.1→sf1; the
  * corpus-scale near-dup path remains d52's banded LSH, whose sf10
  * exponent IS measured here. */
object ScaleDecade {

  private val PairBuildCandidateCeiling = 2e9

  def main(args: Array[String]): Unit = {
    val sf01 = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val sf1 = args.lift(1).getOrElse("/tmp/graft-sf1")
    val sf10 = args.lift(2).getOrElse("/tmp/graft-sf10")
    // optional 4th arg (dev): comma-separated line-item names — run
    // only those and MERGE into the existing SCALE_DECADE.json (the
    // ScaleBench subset discipline: a targeted add-one-item probe must
    // never clobber the full record or re-pay the ~1 h full rerun)
    val only: Option[Set[String]] = args.lift(3).map(_.split(",").toSet)
    val spark = Sessions.local()

    if (!new java.io.File(s"$sf1/documents.parquet").exists())
      ScaleGen.generate(spark, sf01, sf1, 10)
    if (!new java.io.File(s"$sf10/documents.parquet").exists())
      ScaleGen.generateDocuments(spark, sf1, sf10, 10)

    // untimed JIT pre-warm (Bench/ScaleBench methodology)
    val jit = Bench.jitDir(sf01)
    try {
      graft.ext.DedupOps.warm(spark, jit)
      SparkEntry.queries("d59_passage_dedup")(spark, jit).count()
      SparkEntry.queries("t61_bigram_lm")(spark, jit).count()
      SparkEntry.queries("t69_source_calibration")(spark, jit).count()
      if (only.forall(_.contains("t85_release_pipeline")))
        SparkEntry.queries("t85_release_pipeline")(spark, jit).count()
    } catch { case e: Throwable =>
      System.err.println(s"[decade] JIT pre-warm failed (non-fatal): $e") }
    graft.ext.DedupOps.clearCaches()
    graft.ext.TextOps.clearModelSegs()

    /** Exact candidate volume of the capped postings self-join:
      * Σ_sh df·(df−1)/2 over the DF-capped representation. The sum is
      * NULL over an empty/degenerate corpus — report 0, don't NPE. */
    def candidateVolume(dir: String): Double = {
      val r = graft.ext.DedupOps
        .dfCapped(graft.ext.DedupOps.hashedShingles(spark, dir))
        .groupBy("sh").agg(count(lit(1)).as("df"))
        .agg(sum(expr("df * (df - 1) / 2"))).head()
      if (r.isNullAt(0)) 0.0 else r.getDouble(0)
    }

    /** [[Bench.minOf3]] over a dedup build, each cycle from cleared
      * dedup caches (the first one too): -1 if a build throws. */
    def minOf3(name: String)(f: => Unit): Double = {
      graft.ext.DedupOps.clearCaches()
      val (t, ok) = Bench.minOf3(
        Bench.Warm(name, () => f, () => graft.ext.DedupOps.clearCaches()))
      if (ok) t else -1.0
    }

    /** One volume's line items. */
    def measure(dir: String): Seq[(String, Double)] = {
      val items = scala.collection.mutable.ArrayBuffer[(String, Double)]()
      def want(n: String) = only.forall(_.contains(n))
      def median3(name: String): Double = Bench.median3(
        () => Bench.runQuery(name, SparkEntry.queries(name)(spark, dir)), name)
      if (want("candidates") || want("pair_build_d51")) {
        graft.ext.DedupOps.clearCaches()
        val cands = candidateVolume(dir)
        graft.ext.DedupOps.clearCaches()
        items += "candidates" -> cands
      }
      // dedup-warm components, worst-first guarded
      if (want("shingle_frame"))
        items += "shingle_frame" -> minOf3("shingle_frame") {
          graft.ext.DedupOps.hashedShingles(spark, dir).count() }
      if (want("simhash_d53"))
        items += "simhash_d53" -> minOf3("simhash_d53") {
          graft.ext.DedupOps.simhash(spark, dir).count() }
      if (want("lsh_d52"))
        items += "lsh_d52" -> minOf3("lsh_d52") {
          graft.ext.DedupOps.minhashLsh(spark, dir).count() }
      if (!want("pair_build_d51")) ()
      else if (items.toMap.getOrElse("candidates", 0.0)
          <= PairBuildCandidateCeiling)
        items += "pair_build_d51" -> minOf3("pair_build_d51") {
          graft.ext.DedupOps.jaccardPairs(spark, dir).count() }
      else {
        System.err.println(f"[decade] pair build SKIPPED at $dir: " +
          f"${items.toMap.getOrElse("candidates", 0.0)}%.3g candidates" +
          f" > ${PairBuildCandidateCeiling}%.1g " +
          "ceiling (disk-backed shuffle would not fit the box); " +
          "cost-per-candidate exponent measured at sf0.1->sf1 = 0.44-0.48")
        items += "pair_build_d51" -> -1.0
      }
      if (want("d59_passage_dedup"))
        items += "d59_passage_dedup" -> median3("d59_passage_dedup")
      if (want("t61_bigram_lm"))
        items += "t61_bigram_lm" -> median3("t61_bigram_lm")
      // t69's ≥0.7 first-decade exponent (0.72) — documents-only scan,
      // so the second decade slots into this probe's volume pair
      if (want("t69_source_calibration"))
        items += "t69_source_calibration" -> median3("t69_source_calibration")
      // k80's 0.89 first-decade exponent (token-scan + exact-top-10
      // eval, documents-only) — near-linear, so curvature needs the
      // second decade too
      if (want("k80_countmin_heavy"))
        items += "k80_countmin_heavy" -> median3("k80_countmin_heavy")
      // d65/d66 (round 12, documents-only): the substring tier's
      // first-decade exponents are 0.76/0.65 — the second decade
      // watches the shared-hash pair volume for curvature (the
      // regenerated corpus keeps the dup-pair rate, so matched pairs
      // should stay ~linear in docs; a super-linear bend here would
      // mean the DF cap needs to tighten with corpus size)
      if (want("d65_substring_runs"))
        items += "d65_substring_runs" -> median3("d65_substring_runs")
      if (want("d66_incr_substring_dedup"))
        items += "d66_incr_substring_dedup" -> median3("d66_incr_substring_dedup")
      // d68 (round 13, documents-only): the APPLY rung — d65's
      // detection plus the span-sidecar rejoin and per-doc re-cut;
      // MUST go through Bench.runQuery (a bare count() join-eliminates
      // the row-preserving plan — the honest-timing rule)
      if (want("d68_substring_apply"))
        items += "d68_substring_apply" -> median3("d68_substring_apply")
      // d70 (round 13): the SERVED gate's per-batch probe against the
      // persisted window index — the artifact is built once (untimed
      // here; its build is the cache_d70 warm) and the median-of-3
      // times the serve alone, the production per-batch cost
      if (want("d70_served_substring_gate")) {
        graft.ext.DedupOps.windowIndexDir(spark, dir)
        items += "d70_served_substring_gate" -> median3("d70_served_substring_gate")
      }
      // t74 (round 13, documents-only): the DSIR estimator+scorer —
      // token-linear floor (first decade 0.85); full-materialize
      // timing (a bare count() join-eliminates the row-preserving
      // final join — the d68 honest-timing rule)
      if (want("t74_dsir_weights"))
        items += "t74_dsir_weights" -> median3("t74_dsir_weights")
      // d73 (round 13): the ABSORBED gate's serve — base + delta
      // segments pre-built untimed (the d70 discipline; their builds
      // are the cache_d70 warm), median-of-3 over the grown-index
      // probe + serve-time census hot re-derivation
      if (want("d73_windex_absorb")) {
        graft.ext.DedupOps.windowIndexDir(spark, dir)
        graft.ext.DedupOps.windexDeltaDir(spark, dir)
        items += "d73_windex_absorb" -> median3("d73_windex_absorb")
      }
      // d74 (round 14): the FOLDED gate's serve — the post-fold
      // single-segment artifact pre-built untimed (the d70
      // discipline); the probe is d70's plain one-scan shape again
      // where d73's serve pays the per-call census merge — the fold's
      // whole point is this entry reading ~d70's exponent
      if (want("d74_windex_folded")) {
        graft.ext.DedupOps.foldedWindexDir(spark, dir)
        items += "d74_windex_folded" -> median3("d74_windex_folded")
      }
      // t77/t78 (round 15, restated): the calibration tier on the
      // segmented exact-rank bracket — the round-14 weak mark was the
      // per-language single-partition rank window (one task sorts the
      // dominant-language slice); the restated shape (parallel
      // per-(lang, residue) windows + k85 brackets + band passes) must
      // hold a sub-linear reading through the second decade
      if (want("t77_ppl_tau_calibration"))
        items += "t77_ppl_tau_calibration" -> median3("t77_ppl_tau_calibration")
      if (want("t78_ppl_filter_calibrated"))
        items += "t78_ppl_filter_calibrated" -> median3("t78_ppl_filter_calibrated")
      // t85 (round 16): the composed release pipeline — the shared
      // scored-frame artifact pre-builds untimed (it is the
      // cache_ppl_scored warm at bench time; the d70 discipline), the
      // composition itself — four verdict stages AND-joined, cleaned
      // text, census — is the timed serve. The claim under test at
      // the second decade: composition cost stays the SUM of the
      // stage plans (each individually decade-proven), no
      // super-linear interaction from the doc_id verdict joins or
      // the released-corpus checkpoint.
      if (want("t85_release_pipeline")) {
        graft.ext.TextOps.pplScoredDir(spark, dir)
        items += "t85_release_pipeline" -> median3("t85_release_pipeline")
        graft.ext.TextOps.clearPplScored()
      }
      // clearCaches also drops the window-index artifacts
      graft.ext.DedupOps.clearCaches()
      items.toSeq
    }

    val a = measure(sf1)
    val b = measure(sf10)
    val aMap = a.toMap
    val volDocs =
      spark.read.parquet(s"$sf10/documents.parquet").count().toDouble /
        spark.read.parquet(s"$sf1/documents.parquet").count()
    val items = b.map { case (name, tB) =>
      val tA = aMap.getOrElse(name, -1.0)
      val ratio = if (tA > 0 && tB > 0) tB / tA else -1.0
      val expo =
        if (ratio > 0) math.log(ratio) / math.log(volDocs) else -1.0
      name -> Seq("a" -> tA, "b" -> tB, "ratio" -> ratio, "exponent" -> expo)
    }
    // subset runs merge into the existing record (Bench.writeRecord)
    println(Bench.writeRecord("SCALE_DECADE.json",
      s""""scale":"second_decade","dirA":"$sf1","dirB":"$sf10","vol_docs":${Bench.fmt(volDocs)}""",
      items, merge = only.isDefined))
    spark.stop()
  }
}
