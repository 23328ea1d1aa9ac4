package graft

import org.apache.spark.sql.SparkSession

/** Scale-exponent rehearsal: times the HEAVY tiers at two volumes
  * (sf0.1 and the [[ScaleGen]] sf1) and reports per-query time ratios
  * next to the input-growth ratio — the measured stand-in for "would
  * this plan survive 100 TB". A near-linear plan shows time ratio ≈
  * volume ratio (with log factors); a super-linear step (n² pair
  * blowup, unbounded state, driver collect) shows up as a ratio far
  * above it and FAILS the rehearsal.
  *
  * Methodology mirrors [[Bench]]: one JIT pre-warm pass at sf0.001,
  * shared caches timed as their own line items (they are
  * data-proportional too — a super-linear cache build is as much a
  * scale bug as a super-linear query), median-of-3 per query, shuffle
  * probe bracketing for contention transparency. Emits one JSON line
  * (and SCALE_DETAIL.json) with, per item, the seconds at each volume
  * and the ratio. */
object ScaleBench {

  /** The heavy tiers named by the round-8 verdict. Each entry:
    * (line-item name, input-volume ratio key). */
  private[graft] val Heavy = Seq(
    "d51_jaccard_pairs" -> "docs",
    "d52_minhash_lsh" -> "docs",
    "d59_passage_dedup" -> "docs",
    "t57_corpus_funnel" -> "docs",
    "t61_bigram_lm" -> "docs",
    "v72_column_profile" -> "docs",
    "em70_partitioned_upsert" -> "docs",
    "g94_pagerank" -> "lineitem",
    "g95_triangles" -> "lineitem",
    "g96_two_core" -> "lineitem",
    "g97_personalized_pr" -> "lineitem",
    "g102_cc_dataframe" -> "lineitem",
    "s75_ivfpq_knn" -> "emb",
    "s80_ivfpq_served" -> "emb",
    "e88_stream_join" -> "events",
    "e100_stream_unmatched" -> "events",
    "e101_stream_dedup_activity" -> "events",
    // e113's window is per-user-local; the matrix is |types|^2
    "e113_transition_matrix" -> "events",
    // round-10 additions: the three corpus-manifest builders (packing /
    // chunking / sharding — expected scan-bound, exponent ≲ 1), the
    // split-drift audit, and the two model-blocked embedding ops
    "t64_sequence_packing" -> "docs",
    "t65_chunk_overlap" -> "docs",
    "m77_shard_manifest" -> "docs",
    "v74_drift_report" -> "docs",
    "d61_semantic_dedup" -> "emb",
    "s82_filtered_knn" -> "emb",
    // retrieval-stack tier: t66/s85/s87 scan documents (vol ×10 per
    // decade); s84 scans embeddings (×4). s86 scans BOTH (dense side
    // embeddings ×4, lexical side documents ×10) — attributed to the
    // COMBINED scanned-row growth (Σ rows at B / Σ rows at A), the
    // only denominator that is neither flattering (docs alone) nor
    // punitive (emb alone) for a mixed-input operator.
    "t66_bpe_pairs" -> "docs",
    "s84_knn_graph" -> "emb",
    "s85_bm25_topk" -> "docs",
    "s86_hybrid_rrf" -> "docs_emb",
    "s87_bm25_served" -> "docs",
    "s88_bm25_incr" -> "docs",
    // t67's per-shard row_number is the operator's scale question
    // (the window must stay block-bounded, not corpus-global); v75
    // re-reads the staged JSONL corpus (scan-bound); v76's full-outer
    // diff carries only (doc_id, fp) through its shuffle
    "t67_epoch_shuffle" -> "docs",
    "v75_jsonl_ingest" -> "docs",
    "v76_version_diff" -> "docs",
    // s89's brute truth is sample × corpus: sample grows with the
    // corpus (vec_id % 20), so pair volume is n²/20 — the eval is
    // the one deliberately corpus-quadratic item (run on a FIXED
    // sample size in production); its exponent documents that choice
    "s89_knn_graph_recall" -> "emb",
    // s90's pair space is n²/K per balanced cell (quadratic with K
    // fixed — at scale K grows with the corpus, the IVF knob); its
    // measured exponent documents the fixed-K behavior honestly
    "s90_ivf_knn_graph" -> "emb",
    "s92_multiprobe_graph" -> "emb",
    "t68_passage_decontam" -> "docs",
    "g103_semantic_cc" -> "emb",
    "d62_semantic_reps" -> "emb",
    // t69's window runs over (source, score) counts — the ppm GRID
    // bounds the sorted frame, so the exponent should track the scan
    "t69_source_calibration" -> "docs",
    // m78's signature build is one payload scan; candidates ride the
    // capped (kind, band) equi-join — the d52 shape on binary media
    "m78_media_neardup" -> "docs",
    "m79_media_incr_neardup" -> "docs",
    "t70_contam_safe_split" -> "docs",
    // t71's fold is vocab-bounded; only the (source, word) collapse
    // scans the corpus — expect the t66 shape
    "t71_bpe_token_count" -> "docs",
    // s94 serves from the same artifact as s80 plus one anti-join;
    // expect s80's serve-side flatness
    "s94_ivfpq_tombstones" -> "emb",
    // t72 = one token-count scan + a #sources broadcast; expect the
    // t62 scan-bound shape
    "t72_mixture_realize" -> "docs",
    // s95 re-runs the delete step (cohort postings scan + sidecar
    // writes) plus the opt-in serve each timing run — the measured
    // cost IS delete+serve; s96 serves from the compacted artifact
    // (built once, its rewrite timed as cache_s96_compact below) so
    // its line item is the pure single-segment serve
    "s95_bm25_tombstones" -> "docs",
    "s96_bm25_compacted" -> "docs",
    // d63 = one corpus scan against the broadcast benchmark; the
    // n×|bench| scored rows collapse map-side, so expect the s60
    // scan-bound shape vs embedding growth
    "d63_semantic_decontam" -> "emb",
    // s97 serves the compacted (sidecar-free) artifact through s80's
    // plain path — expect s80's serve-side flatness; the compaction
    // rewrite itself is cache_s97_compact
    "s97_ivfpq_compacted" -> "emb",
    // v77 rides the cached d51 pair frame: two doc-id equi-joins
    // driven by the (post-threshold, small) near-dup pair set, with
    // the split assignment a pure projection — expect pair-bounded,
    // near-flat serve-side time
    "v77_split_leakage" -> "docs",
    // t73 = t71's machinery keyed by lang — expect t71's shape
    "t73_tokenizer_fertility" -> "docs",
    // g104's absorb is quotient-CC + one broadcast remap — the line
    // item times the absorb (base labels cached, built as
    // cache_g104_base_cc)
    "g104_incremental_cc" -> "lineitem",
    // d64's gate is batch × touched-cell work against the cached s81
    // artifact (built as cache_s81_incr_index) — expect serve-side
    // near-flatness
    "d64_incr_semantic_dedup" -> "emb",
    // s98 = survivors-only brute truth (one corpus scan vs 10
    // broadcast queries) + the s94 serving — expect the s60 shape
    "s98_tombstoned_recall" -> "emb",
    // s99 = one members scan joined to quantized vectors + the
    // broadcast K-row centroids against the cached s81 artifact
    // (built as cache_s81_incr_index) — the aggregate collapses
    // map-side to ≤K rows, so expect the scan-bound shape
    "s99_index_health" -> "emb",
    // s100 = one postings scan over the s88 artifact aggregated
    // map-side to vocab rows + a 1-row broadcast totals frame —
    // expect the postings-scan-bound shape (the artifact rides the
    // same per-(session,dir) build as s88/s95)
    "s100_bm25_health" -> "docs",
    // g105's absorb is warmIters fixed-point steps over the full
    // degree-joined edges from the cached base ranks (built as
    // cache_g105_base_pr) — expect g94's iterative shape
    "g105_warm_pagerank" -> "lineitem",
    // g106 re-runs ref-15 + cold-4 + the warm absorb each timing run
    // (a pre-deployment audit, not a serve path) — expect ~2.3× g94
    "g106_warmstart_gain" -> "lineitem",
    // sketch tier (k8x): every sketch is a one-scan bounded aggregate
    // (768 CM cells / ~54 hist buckets / 4096-bit Bloom / 64 HLL regs)
    // so the SKETCH side is scan-bound — but k80/k81/k84 also carry
    // their exact-answer EVAL pass (token groupBy / per-group sort /
    // count_distinct), so the measured exponent documents sketch+eval;
    // the scaladoc states only the sketch ships at 100 TB
    "k80_countmin_heavy" -> "docs",
    "k81_hist_quantiles" -> "orders",
    "k82_bloom_semijoin" -> "lineitem",
    "k84_hll_census" -> "orders",
    // k83's serve reads the ~#sources-row artifact; its exact_vocab
    // EVAL is the only corpus-scan component — expect scan-bound
    "k83_incr_census" -> "docs",
    // em75 rebuilds its merged store per call (the em70 discipline):
    // parse + merge + one rollup exchange — expect em70's write-path
    // flatness in store size, scan-bound in batch
    "em75_hierarchy_census" -> "docs",
    // v78's first aggregation collapses map-side to the QI-class grid
    // (attribute-bounded, never corpus-bounded) — expect scan-bound
    "v78_kanon_audit" -> "docs",
    // d65: window count is linear in corpus tokens (one hash per
    // offset); the pair join is bounded by the shared-hash structure
    // (measured 1,157 → 11,544 matched pairs sf0.01 → sf0.1, ≈×10)
    // with the >16-docs DF cap bounding any hash's fan-out at cap² —
    // expect near-linear, never the all-pairs n²
    "d65_substring_runs" -> "docs",
    // k85: the sketch build is two per-(status, segment) sorts (at
    // scale: the BATCH only, local per segment) + the merged ≤64·segs
    // weighted rows; the exact-rank/exact-value EVAL's per-status
    // corpus sort is the measured cost — expect k81's shape
    "k85_quantile_sketch" -> "orders",
    // d66: batch windows × index fan-out; the per-call index rebuild
    // (the em70 honesty rule — in production it is the persisted
    // artifact) is the scan-bound majority — expect d65's shape
    "d66_incr_substring_dedup" -> "docs",
    // d67: rides the cached d52 signature + d51 pair frames; its own
    // work is the 4-setting bucket self-join whose volume is the
    // banding-collision structure (the b8r1 row dominates) — expect
    // pair-bounded serve-side time
    "d67_lsh_banding_eval" -> "docs",
    // d68: d65's detection plus a span sidecar (rows ∝ duplicated
    // runs) joined back on doc_id and a per-doc token re-cut — expect
    // d65's near-linear shape plus a token-linear rejoin
    "d68_substring_apply" -> "docs",
    // d69: three d65 pipelines (w = 5/8/12) over the same token
    // stream, each aggregated to one row — expect ~3× d65, same
    // exponent
    "d69_window_sensitivity" -> "docs",
    // e124: native WindowGroupLimit plan — the map-side Partial
    // group-limit bounds every task's contribution to k rows per
    // key, so expect scan/sort-bound near-linear and skew-neutral
    "e124_topk_per_key" -> "events",
    // d70: the substring gate SERVED from the persisted index — the
    // per-batch probe alone (batch windows × index fan-out); expect
    // well below d66's rebuild-inclusive exponent and absolute time
    "d70_served_substring_gate" -> "docs",
    // t74: two bigram-stream passes (model build + scoring), both
    // map-side-combined; the ≤257-row model re-joins as a broadcast —
    // expect the t61 scan-bound shape
    "t74_dsir_weights" -> "docs",
    // em76: a pure row-local projection over the store (regex scrub +
    // md5 pseudonyms) — the store rebuild per call is the em70/em75
    // honesty rule; expect em75's scan-bound shape
    "em76_pseudo_release" -> "docs",
    // e125: the frozen-model stream scorer — model estimation is one
    // batch aggregate; the stream stage is a stateless dense-array
    // fold, so expect scan-bound plus the fixed stream-start overhead
    // that flatters nothing (the e88/e100 caveat)
    "e125_stream_dsir_score" -> "docs",
    // d71: the tombstoned serve — d70's probe plus one broadcast
    // anti-join of the O(cohort) sidecar; expect d70's serve shape
    "d71_windex_tombstones" -> "docs",
    // d72: the compacted serve — d70's probe against the smaller
    // folded artifact (one join fewer than d71); expect ≤ d71
    "d72_windex_compacted" -> "docs",
    // d73: the absorbed serve — base ∪ delta probe plus one
    // index-hash-bounded census group-by for the hot re-derivation;
    // expect d70's serve shape plus the census constant
    "d73_windex_absorb" -> "docs",
    // t75: reference-LM build (en-slice bigram counts) + one scoring
    // pass with vocabulary-bounded broadcast joins — expect the
    // t61/t74 token-linear shape
    "t75_ppl_filter" -> "docs",
    // t76: t74's row-local scoring plus the coin projection and the
    // per-segment rank window over the (doc-count-sized) weight frame
    // feeding the ≤64·segments-row sketch — expect t74's shape plus
    // the segment-partitioned window sort
    "t76_dsir_resample" -> "docs",
    // t77 (restated round 15): t75's scoring pass plus the segmented
    // exact-rank bracket (parallel per-(lang, residue) windows + two
    // band passes) — expect t75's shape; the round-14 lang-keyed
    // single-partition rank window is gone
    "t77_ppl_tau_calibration" -> "docs",
    // d74: the FOLDED serve — d70's plain one-scan probe against the
    // single-segment post-fold artifact (no census merge, no
    // tombstone anti-join, no segment union at serve); expect d70's
    // ~0.53 where d73's census-merging serve read 0.84
    "d74_windex_folded" -> "docs",
    // em77: em76's release frame exploded into the em64 census —
    // scan-bound like em64 (the store rebuild per call is the
    // em70/em75 honesty rule)
    "em77_pseudo_link_census" -> "docs",
    // e129: the crawl-time resample gate — frozen three-literal
    // sidecar + the stateless row-local stage; expect e125's shape
    // (the batch threshold derivation is charged per call, the em70
    // honesty rule)
    "e129_stream_dsir_resample" -> "docs",
    // t78: t75's checkpointed scoring pass + the in-query τ
    // derivation (the segmented bracket over the en slice only) —
    // expect t77's shape
    "t78_ppl_filter_calibrated" -> "docs",
    // t79: the summed-segments model serve (O(segments · m) refresh)
    // + t74's codegen'd scoring pass — expect t74's scoring exponent;
    // the absorb itself is the cache_model_segments delta sub-time
    "t79_dsir_model_absorb" -> "docs",
    // t80: t74's scoring + the manifest join + t71's vocab-bounded
    // accounting over the kept subset — expect the t71 shape
    "t80_resample_apply" -> "docs",
    // t81: the summed-segments LM serve (vocab-bounded merge) + t75's
    // scoring pass — expect t75's exponent
    "t81_ppl_lm_absorb" -> "docs",
    // d75: the post-turnover serve — folded ∪ delta2 with one census
    // group-by (index-hash-bounded); expect d73's absorbed-serve shape
    // against the folded generation
    "d75_windex_regen_absorb" -> "docs",
    // e130: e127's contribution-log drain + the frozen scalar τ; the
    // batch-side τ derivation is charged per call (the em70 honesty
    // rule) — expect e127's shape
    "e130_stream_ppl_calibrated" -> "docs",
    // t82: the retracted-model serve (summed segments incl. the
    // negated retract) + t74's scoring pass over the remaining corpus
    "t82_dsir_model_retract" -> "docs",
    // k86: the exact-rank machinery on the orders domain — ~3 passes
    // over a geometrically shrinking candidate set; expect near the
    // orders scan bound
    "k86_exact_rank" -> "orders",
    // t83: the LM retraction serve (summed signed segments, zeroed
    // rows dropped) + t75's scoring pass over the remaining corpus
    "t83_ppl_lm_retract" -> "docs",
    // e131: e126's stream gate against the post-turnover assembly
    "e131_stream_regen_gate" -> "docs",
    // t84/t86: the model-tier turnover serves (folded gen-1 ⊎
    // re-admitted cohort summed, then t74's/t75's scoring pass) —
    // the fold itself rides the cache_model_segments warm
    "t84_dsir_fold_turnover" -> "docs",
    "t86_lm_fold_turnover" -> "docs",
    // t85: the composed release — four verdict joins + the cleaned-
    // text census; the stage machinery is each stage's proven plan
    "t85_release_pipeline" -> "docs",
    // e132: e125's drain with the sidecar re-derived from segments
    "e132_stream_dsir_maintained" -> "docs",
    // e133/e134: the same drains one generation later — sidecars
    // pinned from the post-turnover model artifacts (t84's/t86's)
    "e133_stream_dsir_turnover" -> "docs",
    "e134_stream_ppl_turnover" -> "docs",
    // t87: the per-doc release manifest — three verdict-frame joins
    "t87_release_manifest" -> "docs",
    // e135: the composed crawl-time release gate — three stateless
    // contribution branches into one drain
    "e135_stream_release_gate" -> "docs")

  /** The shared cache warms this rehearsal times, picked by name from
    * [[Bench.warms]] (they are data-proportional too — a super-linear
    * cache build is as much a scale bug as a super-linear query). Each
    * entry: (warm name, input-volume ratio key). */
  private[graft] val Warms = Seq(
    "cache_dedup_frames" -> "docs",
    "cache_kmeans_model" -> "emb",
    "cache_graph_edges" -> "lineitem",
    // the s81 incremental-index build: base-4/5 training + O(batch)
    // absorb — its exponent vs embedding growth is the update-path
    // scale claim (serving is the s80 line item)
    "cache_s81_incr_index" -> "emb",
    // the s87 inverted-index build (one corpus scan → postings/df/
    // stats artifact): the index BUILD-path scale claim (serving is the
    // s87 query line item, which runs against this warm's artifact)
    "cache_s87_bm25_index" -> "docs",
    // em73/em74's store builds are cached per (session, dir) — timed
    // as min-of-3 builds so the rehearsal measures the store REWRITE
    // and the partition-drop retention, never a cached-frame read (a
    // Heavy median-of-3 would time the cache on runs 2-3 and report a
    // fantasy exponent)
    "cache_em73_compaction" -> "docs",
    "cache_em74_retention" -> "docs",
    // the s96/s97 compaction REWRITES: the honest exponent carriers for
    // the compact paths (their query line items measure the serve)
    "cache_s96_compact" -> "docs",
    "cache_s97_compact" -> "emb",
    // the shared semantic-CC assignment (g103 + d62 both serve from
    // it) and the shared media signature frame (m78/m79/e112): their
    // builds are the honest exponent carriers, the query line items
    // measure serve-side work
    "cache_semantic_cc" -> "emb",
    // the base-label (g104) and base-rank (g105) builds whose absorbs
    // the g104/g105 line items measure
    "cache_g104_base_cc" -> "lineitem",
    "cache_g105_base_pr" -> "lineitem",
    "cache_media_sigs" -> "docs",
    // k83's census artifact: the build-path exponent; the k83 line item
    // times the serve + eval
    "cache_k83_census" -> "docs",
    // the substring tier's build-once half (d70..d75 and d68 serve from
    // it)
    "cache_d70_window_index" -> "docs",
    // the model-tier segment builds (t79/t81/t82/t83/t84/t86 serve from
    // them)
    "cache_model_segments" -> "docs",
    // the shared perplexity scoring-pass artifact (t75/t77/t78 and
    // e130's batch τ serve from it)
    "cache_ppl_scored" -> "docs")

  /** (cache line items, query line items) for one volume. `only`
    * (dev): restrict to named line items — cuts the add-one-operator
    * rehearsal loop from the full suite to the new entries; the partial
    * result is MERGED into SCALE_DETAIL.json (see main) so a subset run
    * can never clobber the full record. Unselected warms are never
    * built. */
  private def measure(spark: SparkSession, dir: String,
      only: Option[Set[String]])
      : (Seq[(String, Double)], Seq[(String, Double)]) = {
    graft.Registries.clearAll()
    def want(name: String) = only.forall(_.contains(name))
    val table = Bench.warms(spark, dir).map(w => w.name -> w).toMap
    val caches = Warms.collect { case (name, _) if want(name) =>
      val (t, ok) = Bench.minOf3(table(name))
      name -> (if (ok) t else -1.0)
    }
    val queries = Heavy.collect { case (name, _) if want(name) =>
      name -> Bench.median3(
        () => Bench.runQuery(name, SparkEntry.queries(name)(spark, dir)), name)
    }
    (caches, queries)
  }

  def main(args: Array[String]): Unit = {
    val dirA = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dirB = args.lift(1).getOrElse("/tmp/graft-sf1")
    // optional 3rd arg (dev): comma-separated line-item names — run
    // only those and MERGE into the existing SCALE_DETAIL.json
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    val spark = Sessions.local()
    // input-volume ratios (so each time ratio is read against the
    // growth of the table it actually scans — embeddings grow ×4 per
    // ×10 sf under the driver's own curve, not ×10)
    def rows(dir: String, t: String): Long =
      spark.read.parquet(s"$dir/$t.parquet").count()
    val vol = Map(
      "docs" -> rows(dirB, "documents").toDouble / rows(dirA, "documents"),
      "lineitem" -> rows(dirB, "lineitem").toDouble / rows(dirA, "lineitem"),
      "emb" -> rows(dirB, "embeddings").toDouble / rows(dirA, "embeddings"),
      "events" -> rows(dirB, "events").toDouble / rows(dirA, "events"),
      "orders" -> rows(dirB, "orders").toDouble / rows(dirA, "orders"),
      // combined growth for mixed-input operators (s86 scans both)
      "docs_emb" ->
        (rows(dirB, "documents") + rows(dirB, "embeddings")).toDouble /
          (rows(dirA, "documents") + rows(dirA, "embeddings")))
    // JIT pre-warm (untimed): compile the heavy code paths at sf0.001
    val jit = Bench.jitDir(dirA)
    try {
      graft.ext.DedupOps.warm(spark, jit)
      graft.ext.SimilarityOps.warm(spark, jit)
      graft.graph.GraphOps.warm(spark, jit)
      graft.ext.SimilarityOps.ivfPqIncremental(spark, jit).count()
      graft.query.EmailOps.compactedStore(spark, jit).count()
      graft.query.EmailOps.retainedStore(spark, jit).count()
      Heavy.filter { case (n, _) => only.forall(_.contains(n)) }
        .foreach { case (n, _) =>
          SparkEntry.queries(n)(spark, jit).count() }
    } catch { case e: Throwable =>
      System.err.println(s"[scale] JIT pre-warm failed (non-fatal): $e") }
    graft.Registries.clearAll()

    val (cachesA, queriesA) = measure(spark, dirA, only)
    val (cachesB, queriesB) = measure(spark, dirB, only)
    graft.Registries.clearAll()

    val volOf = (Heavy ++ Warms).map { case (n, k) => n -> vol(k) }.toMap
    val aMap = (cachesA ++ queriesA).toMap
    val items = (cachesB ++ queriesB).map { case (name, tB) =>
      val tA = aMap.getOrElse(name, -1.0)
      val ratio = if (tA > 0 && tB > 0) tB / tA else -1.0
      // exponent vs the item's own input growth: log(timeRatio)/log(volRatio);
      // ±Infinity or NaN when the volume did not grow (vol 1), which
      // Bench.fmt writes as null
      val expo = if (ratio > 0) math.log(ratio) / math.log(volOf(name)) else -1.0
      name -> Seq("a" -> tA, "b" -> tB, "ratio" -> ratio,
        "vol" -> volOf(name), "exponent" -> expo)
    }
    println(Bench.writeRecord("SCALE_DETAIL.json",
      s""""scale":"ratio_rehearsal","dirA":"$dirA","dirB":"$dirB","volumes":${Bench.jsonObj(vol.toSeq)}""",
      items, merge = only.isDefined))
    spark.stop()
  }
}
