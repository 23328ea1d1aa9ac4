package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{Advanced, Classic, Classic2, Classic3, Relational, Sketches}
import graft.query.EmailOps
import graft.ext.{DedupOps, EventOps, Multimodal, Ner, SimilarityOps, TextOps}
import graft.ingest.Validation
import graft.graph.GraphOps
import graft.streaming.StreamingOps

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps operator names (SURVEY.md §2 inventory) to DataFrame
  * programs over the driver testdata dir; `oracleSql` holds the DuckDB
  * twin for each SQL-expressible entry. Column names and ordering are
  * kept identical on both sides (the driver hash-compares values after
  * sorting columns by name).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.pricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ Advanced.queries ++ Classic.queries ++
      Sketches.queries ++
      Classic2.queries ++ Classic3.queries ++
      EmailOps.queries ++ TextOps.queries ++ DedupOps.queries ++
      SimilarityOps.queries ++ EventOps.queries ++ GraphOps.queries ++
      Multimodal.queries ++ Ner.queries ++ Validation.queries ++ Map(
        // streaming twin of e80: same aggregation as a file-source
        // stream drained into a memory sink — shares e80's oracle, so
        // batch/stream parity is itself oracle-checked
        "e84_stream_tumbling" ->
          ((s: SparkSession, d: String) => StreamingOps.streamTumblingCounts(s, d)),
        // streaming twin of d50: same dedup aggregation as a stream →
        // shares d50's oracle (stream/batch parity on the dedup tier)
        "e85_stream_dedup" ->
          ((s: SparkSession, d: String) => StreamingOps.streamExactDedup(s, d)),
        // stream-stream interval join (watermarked both sides); the
        // DuckDB twin is the equivalent batch inequality join
        "e88_stream_join" ->
          ((s: SparkSession, d: String) => StreamingOps.streamRangeJoin(s, d)),
        // native session_window streaming aggregation; shares e82's
        // oracle (stream/batch parity on gap sessionization)
        "e89_stream_session" ->
          ((s: SparkSession, d: String) => StreamingOps.streamSessionWindows(s, d)),
        // custom keyed state (flatMapGroupsWithState): closed sessions
        // only — each user's open tail stays in the state store
        "e90_stream_closed_sessions" ->
          ((s: SparkSession, d: String) => StreamingOps.streamClosedSessions(s, d)),
        // streaming twin of e91: counts in streaming state, per-window
        // argmax at read time — shares e91's oracle (stream/batch
        // parity on the trending tier)
        "e92_stream_top_event" ->
          ((s: SparkSession, d: String) => StreamingOps.streamWindowTopEvent(s, d)),
        // streaming twin of e93: per-user funnel progress as CUSTOM
        // keyed state (flatMapGroupsWithState) — shares e93's oracle
        // (stream/batch parity on the funnel tier)
        "e95_stream_funnel" ->
          ((s: SparkSession, d: String) => StreamingOps.streamFunnel(s, d)),
        // streaming twin of e94: distinct (user, day) pairs as
        // dropDuplicates state — shares e94's oracle
        "e96_stream_retention" ->
          ((s: SparkSession, d: String) => StreamingOps.streamRetention(s, d)),
        // stream-static enrichment join (per-batch broadcast dimension
        // lookup) — the batch twin is the oracle
        "e98_stream_enrichment" ->
          ((s: SparkSession, d: String) => StreamingOps.streamSegmentEnrichment(s, d)),
        // streaming twin of t50: the stateless quality-rule stage
        // composed onto a file stream — shares t50's oracle
        // (batch/stream parity on the corpus-filtering tier)
        "e99_stream_quality" ->
          ((s: SparkSession, d: String) => StreamingOps.streamQualityFilter(s, d)),
        // watermarked stream-stream LEFT OUTER interval join: errors
        // with no preceding click — null rows exist only via watermark
        // eviction, so the batch anti-join oracle checks that path
        "e100_stream_unmatched" ->
          ((s: SparkSession, d: String) => StreamingOps.streamUnmatchedErrors(s, d)),
        // watermark-expiring stream dedup chained into an append-mode
        // windowed aggregation (two stateful operators); the dedup key
        // contains the window bucket, so the downstream distinct-count
        // is deterministic and the batch oracle hash-checks it
        "e101_stream_dedup_activity" ->
          ((s: SparkSession, d: String) => StreamingOps.streamDedupActivity(s, d)),
        // per-user census through the transformWithState arbitrary-state
        // API (typed ValueState on the RocksDB store); order-insensitive
        // accumulators -> deterministic, batch-aggregation oracle
        "e102_stream_user_census" ->
          ((s: SparkSession, d: String) => StreamingOps.streamUserCensus(s, d)),
        // RESTART twins: the e101/e90 dataflows stopped mid-input and
        // resumed from their checkpoints — exactly-once across a
        // restart (source log + state store + sink commit log) proven
        // by the same batch oracles as the one-shot drains
        "e104_restart_dedup_activity" ->
          ((s: SparkSession, d: String) => StreamingOps.streamDedupActivityRestart(s, d)),
        "e105_restart_closed_sessions" ->
          ((s: SparkSession, d: String) => StreamingOps.streamClosedSessionsRestart(s, d)),
        // the RocksDB-backend restart proof: transformWithState census
        // resumed from a RocksDB checkpoint snapshot mid-input
        "e106_restart_user_census" ->
          ((s: SparkSession, d: String) => StreamingOps.streamUserCensusRestart(s, d)),
        // streaming twin of t65: the stateless chunk manifest on a file
        // source drained through the exactly-once parquet file sink —
        // shares t65's oracle (batch/stream parity on the RAG-prep tier)
        "e107_stream_chunking" ->
          ((s: SparkSession, d: String) => StreamingOps.streamChunkOverlap(s, d)),
        // streaming twin of s85: frozen-index BM25 scoring over a
        // document stream, top-5 at read time — shares s85's oracle
        "e108_stream_bm25" ->
          ((s: SparkSession, d: String) => StreamingOps.streamBm25(s, d)),
        // streaming twin of d58: new-crawl docs dedup-gated against the
        // frozen corpus inverted index — shares d58's oracle
        "e109_stream_incr_dedup" ->
          ((s: SparkSession, d: String) =>
            StreamingOps.streamIncrementalDedup(s, d)),
        // streaming twin of v75: JSONL quarantine ingest on a text
        // stream (from_json null = quarantine) — shares v75's oracle
        "e110_stream_jsonl" ->
          ((s: SparkSession, d: String) =>
            StreamingOps.streamJsonlQuarantine(s, d)),
        // streaming twin of t68: passage-level decontamination of a
        // doc feed against the frozen benchmark passage set — shares
        // t68's oracle
        "e111_stream_decontam" ->
          ((s: SparkSession, d: String) =>
            StreamingOps.streamPassageDecontam(s, d)),
        // streaming twin of m79: the media crawler's near-dup gate —
        // frozen corpus band index, stateless fingerprint stream —
        // shares m79's oracle
        "e112_stream_media_gate" ->
          ((s: SparkSession, d: String) =>
            StreamingOps.streamMediaDedupGate(s, d)),
        // streaming twin of e113: the live first-order Markov counter
        // (per-user last-event custom state) — shares e113's oracle
        "e114_stream_transitions" ->
          ((s: SparkSession, d: String) =>
            StreamingOps.streamTransitions(s, d)),
        // streaming twin of t70: the contamination-safe split gate on
        // a live doc feed (frozen benchmark sidecar, stateless routing
        // explode, census at read time) — shares t70's oracle
        "e115_stream_contam_split" ->
          ((s: SparkSession, d: String) =>
            StreamingOps.streamContamSplit(s, d)),
        // streaming twin of t72: the mixture-sampling gate at ingest
        // (frozen plan sidecar, stateless deterministic copy counts,
        // census at read time) — shares t72's oracle
        "e116_stream_mixture" ->
          ((s: SparkSession, d: String) =>
            StreamingOps.streamMixtureRealize(s, d)),
        // streaming twin of d63: semantic decontamination as a
        // crawl-time gate (frozen benchmark-embedding sidecar,
        // stateless micro-cosine scoring, verdict at read time) —
        // shares d63's oracle
        "e117_stream_sem_decontam" ->
          ((s: SparkSession, d: String) =>
            StreamingOps.streamSemanticDecontam(s, d)),
        // streaming twin of d64: the ingest-time semantic-dedup gate
        // on a live embedding feed (frozen artifact sidecars, stateless
        // literal-fold cell assignment + τ-join) — shares d64's oracle
        "e119_stream_sem_gate" ->
          ((s: SparkSession, d: String) =>
            StreamingOps.streamSemanticGate(s, d)),
        // streaming twin of k80's sketch state: the count-min counter
        // table maintained over a document feed with bounded state
        // (768 cells), complete-mode snapshot drain — the streamed
        // sketch must equal the batch sketch bit-for-bit
        "e120_stream_cm_cells" ->
          ((s: SparkSession, d: String) =>
            StreamingOps.streamCmCells(s, d)),
        // restart-recovery proof for the additive-aggregate state
        // shape (the fifth in the e104/e105/e106/e118 matrix): e120's
        // CM table stopped mid-corpus and resumed — shares k80's cell
        // oracle
        "e121_restart_cm_cells" ->
          ((s: SparkSession, d: String) =>
            StreamingOps.streamCmCellsRestart(s, d)),
        // streaming twin of d66: the exact-substring dedup gate on a
        // live doc feed (frozen corpus window index, stateless
        // RollingWindowHash64 stage, verdict at read time) — shares
        // d66's oracle
        "e122_stream_substring_gate" ->
          ((s: SparkSession, d: String) =>
            StreamingOps.streamSubstringGate(s, d)),
        // e122 stopped mid-feed and resumed from its checkpoint — the
        // restart proof for the frozen-sidecar + stateless-stage
        // family (recovery rides the source offset log + sink commit
        // log alone); shares d66's oracle
        "e123_restart_substring_gate" ->
          ((s: SparkSession, d: String) =>
            StreamingOps.streamSubstringGateRestart(s, d)),
        // streaming twin of t74: DSIR importance scoring of a live doc
        // feed against the frozen hashed-bigram model (row-local
        // literal-map fold, no state) — shares t74's oracle
        "e125_stream_dsir_score" ->
          ((s: SparkSession, d: String) =>
            StreamingOps.streamDsirScore(s, d)),
        // streaming twin of d73: the substring gate one absorb
        // generation later — served from base + delta segments with
        // serve-time hot re-derivation — shares d73's oracle
        "e126_stream_absorbed_gate" ->
          ((s: SparkSession, d: String) =>
            StreamingOps.streamAbsorbedGate(s, d)),
        // streaming twin of t75: perplexity filtering of a live doc
        // feed against the frozen reference LM (contribution log into
        // the file sink, verdict at read time) — shares t75's oracle
        "e127_stream_ppl_filter" ->
          ((s: SparkSession, d: String) =>
            StreamingOps.streamPplFilter(s, d)),
        // e127 stopped mid-feed and resumed from its checkpoint — the
        // restart proof for the frozen-model scorer family (recovery
        // rides the source offset log + sink commit log alone, at
        // per-bigram contribution granularity); shares t75's oracle
        "e128_restart_ppl_filter" ->
          ((s: SparkSession, d: String) =>
            StreamingOps.streamPplFilterRestart(s, d)),
        // e125 served from the MAINTAINED estimator: the literal
        // sidecar derives from the base+delta count segments' sum
        // (t79's serving state), not a full rebuild — the
        // absorb→pin→serve composition proof; shares t74's oracle
        "e132_stream_dsir_maintained" ->
          ((s: SparkSession, d: String) =>
            StreamingOps.streamDsirScoreMaintained(s, d)),
        // e132 one generation later: the sidecar derives from the
        // POST-TURNOVER model (folded gen-1 ⊎ re-admitted cohort) —
        // the serving path proven at every model lifecycle state;
        // shares t74's oracle (= t84's)
        "e133_stream_dsir_turnover" ->
          ((s: SparkSession, d: String) =>
            StreamingOps.streamDsirScoreTurnover(s, d)),
        // e127's crawl gate with the LM literals pinned from the
        // post-turnover tables (t86's merged c2 → c1 → V-counts-keys);
        // shares t75's oracle (= t86's)
        "e134_stream_ppl_turnover" ->
          ((s: SparkSession, d: String) =>
            StreamingOps.streamPplFilterTurnover(s, d)),
        // the COMPOSED release gate: quality + routing + selection
        // verdicts from ONE stream pass over one source — three
        // stateless contribution branches into one exactly-once log;
        // shares t87's nested three-stage oracle
        "e135_stream_release_gate" ->
          ((s: SparkSession, d: String) =>
            StreamingOps.streamReleaseGate(s, d)),
        // streaming twin of t76: the crawl-time resample gate — frozen
        // model + frozen normalization max + frozen k85 budget cutoff
        // (a three-literal sidecar), stateless row-local verdicts —
        // shares t76's oracle
        "e129_stream_dsir_resample" ->
          ((s: SparkSession, d: String) =>
            StreamingOps.streamDsirResample(s, d)),
        // streaming twin of d75: e126's crawler gate one LSM
        // generation later — served from the folded artifact + the
        // next delta segment — shares d75's twice-grown rebuild oracle
        "e131_stream_regen_gate" ->
          ((s: SparkSession, d: String) =>
            StreamingOps.streamRegenGate(s, d)),
        // streaming twin of t78: the CALIBRATED perplexity filter at
        // crawl time — derived τ frozen as the one-scalar sidecar
        // (the e129 pattern), stateless contribution log, verdict at
        // read time — shares t78's oracle
        "e130_stream_ppl_calibrated" ->
          ((s: SparkSession, d: String) =>
            StreamingOps.streamPplFilterCalibrated(s, d)),
        // restart-recovery proof for e114's custom Markov-counter
        // state (the fourth restart state shape) — shares e113's
        // oracle
        "e118_restart_transitions" ->
          ((s: SparkSession, d: String) =>
            StreamingOps.streamTransitionsRestart(s, d)))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Relational.oracleSql ++ Advanced.oracleSql ++ Classic.oracleSql ++
      Sketches.oracleSql ++
      Classic2.oracleSql ++ Classic3.oracleSql ++
      EmailOps.oracleSql ++ TextOps.oracleSql ++
      DedupOps.oracleSql ++ SimilarityOps.oracleSql ++ EventOps.oracleSql ++
      GraphOps.oracleSql ++ Multimodal.oracleSql ++ Ner.oracleSql ++
      Validation.oracleSql ++
      Map("e84_stream_tumbling" -> EventOps.tumblingWindowSql,
        "e85_stream_dedup" -> DedupOps.exactDedupSql,
        "e88_stream_join" -> StreamingOps.streamRangeJoinSql,
        "e89_stream_session" -> EventOps.sessionizeSql,
        "e90_stream_closed_sessions" -> StreamingOps.streamClosedSessionsSql,
        "e92_stream_top_event" -> EventOps.windowTopEventSql,
        "e95_stream_funnel" -> EventOps.funnelSql,
        "e96_stream_retention" -> EventOps.retentionSql,
        "e98_stream_enrichment" -> StreamingOps.streamSegmentEnrichmentSql,
        "e99_stream_quality" -> TextOps.qualityFilterSql,
        "e100_stream_unmatched" -> StreamingOps.streamUnmatchedErrorsSql,
        "e101_stream_dedup_activity" -> StreamingOps.streamDedupActivitySql,
        "e102_stream_user_census" -> StreamingOps.streamUserCensusSql,
        "e104_restart_dedup_activity" -> StreamingOps.streamDedupActivitySql,
        "e105_restart_closed_sessions" -> StreamingOps.streamClosedSessionsSql,
        "e106_restart_user_census" -> StreamingOps.streamUserCensusSql,
        "e107_stream_chunking" -> TextOps.chunkOverlapSql,
        "e108_stream_bm25" -> graft.ext.SimilarityOps.bm25TopKSql,
        "e109_stream_incr_dedup" -> DedupOps.incrementalDedupSql,
        "e110_stream_jsonl" -> Validation.jsonlIngestSql,
        "e111_stream_decontam" -> DedupOps.passageDecontamSql,
        "e112_stream_media_gate" ->
          graft.ext.Multimodal.mediaIncrNearDupSql,
        "e114_stream_transitions" -> EventOps.transitionMatrixSql,
        "e115_stream_contam_split" -> TextOps.contamSafeSplitSql,
        "e116_stream_mixture" -> TextOps.mixtureRealizeSql,
        "e117_stream_sem_decontam" -> DedupOps.semanticDecontamSql,
        "e118_restart_transitions" -> EventOps.transitionMatrixSql,
        "e119_stream_sem_gate" -> DedupOps.incrementalSemanticDedupSql,
        "e120_stream_cm_cells" -> Sketches.cmCellsSql,
        "e122_stream_substring_gate" -> DedupOps.incrSubstringDedupSql,
        "e123_restart_substring_gate" -> DedupOps.incrSubstringDedupSql,
        "e125_stream_dsir_score" -> TextOps.dsirWeightsSql,
        "e132_stream_dsir_maintained" -> TextOps.dsirWeightsSql,
        "e133_stream_dsir_turnover" -> TextOps.dsirWeightsSql,
        "e134_stream_ppl_turnover" -> TextOps.pplFilterSql,
        "e135_stream_release_gate" -> TextOps.releaseManifestSql,
        "e126_stream_absorbed_gate" -> DedupOps.windexAbsorbGateSql,
        "e127_stream_ppl_filter" -> TextOps.pplFilterSql,
        "e128_restart_ppl_filter" -> TextOps.pplFilterSql,
        "e129_stream_dsir_resample" -> TextOps.dsirResampleSql,
        "e130_stream_ppl_calibrated" -> TextOps.pplFilterCalibratedSql,
        "e131_stream_regen_gate" -> DedupOps.windexRegenAbsorbSql,
        "e121_restart_cm_cells" -> Sketches.cmCellsSql)
}
