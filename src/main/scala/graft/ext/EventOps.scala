package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._

/** Event-stream analytics over the `events` table: tumbling/hopping
  * windows, sessionization, JSON property extraction.
  *
  * `Tables.events` normalizes `ts` to LongType epoch nanoseconds at the
  * boundary regardless of the parquet's physical timestamp type
  * (TIMESTAMP(NANOS) passthrough via nanosAsLong, TIMESTAMP(MICROS)
  * via a tz-independent timestampdiff). All time arithmetic therefore
  * runs on exact integer microseconds (`ts div 1000`), which DuckDB's
  * `epoch_us(ts)` reproduces bit-for-bit on either physical type. These are the
  * batch twins of the Structured Streaming operators in
  * `graft.streaming` — same bucketing arithmetic, so streaming output
  * can be validated against these oracle-checked results.
  *
  * Windows use integer epoch-bucket arithmetic (floor(epoch/width))
  * rather than engine-specific window helpers so the DuckDB twin is
  * exact; epoch carries microseconds as double in both engines.
  */
object EventOps {

  // ----------------------------------------------- e80 tumbling

  /** e80: 5-minute tumbling window counts + value sums per event_type.
    *
    * `value` carries exactly 2 decimals (fixture-verified), so the sum
    * runs on integer cents and divides once at the end — an EXACT
    * result on both engines. `round(sum(double), 2)` is not: Spark
    * rounds the double's shortest decimal rendering, DuckDB rounds in
    * float space, and a true sum landing on a .xx5 boundary flips
    * between them (observed on e81 at sf0.1). */
  def tumblingWindow(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("bucket", expr("(ts div 1000) div 300000000"))
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy("bucket", "event_type")
      .agg(count(lit(1)).as("n_events"),
        (sum("cents") / 100.0).as("total_value"))
      .withColumn("window_start", timestamp_seconds(col("bucket") * 300))
      .select("window_start", "event_type", "n_events", "total_value")
      .orderBy("window_start", "event_type")

  val tumblingWindowSql: String =
    """SELECT CAST(to_timestamp(bucket * 300) AS TIMESTAMP) AS window_start,
      |  event_type, count(*) AS n_events,
      |  sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total_value
      |FROM (SELECT epoch_us(ts) // 300000000 AS bucket, *
      |      FROM events)
      |GROUP BY bucket, event_type ORDER BY window_start, event_type""".stripMargin

  // ------------------------------------------------ e81 hopping

  /** e81: 10-minute windows hopping every 5 minutes — each event lands
    * in two windows (explode over the two covering hops). The 4-decimal
    * average is computed by integer half-up rounding of the exact
    * rational sum(cents)·100 / n — see e80 for why float round() can't
    * hash-check here. */
  def hoppingWindow(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("bucket", expr("(ts div 1000) div 300000000"))
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .select(col("event_type"), col("cents"),
        explode(array(col("bucket"), col("bucket") - 1)).as("win"))
      .groupBy("win", "event_type")
      .agg(count(lit(1)).as("n_events"),
        expr("((2 * sum(cents) * 100 + count(1)) div (2 * count(1))) / 10000.0D")
          .as("avg_value"))
      .withColumn("window_start", timestamp_seconds(col("win") * 300))
      .select("window_start", "event_type", "n_events", "avg_value")
      .orderBy("window_start", "event_type")

  val hoppingWindowSql: String =
    """SELECT CAST(to_timestamp(win * 300) AS TIMESTAMP) AS window_start,
      |  event_type, count(*) AS n_events,
      |  ((2 * sum(cents) * 100 + count(*)) // (2 * count(*))) / 10000.0
      |    AS avg_value
      |FROM (
      |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
      |    unnest([bucket, bucket - 1]) AS win
      |  FROM (SELECT epoch_us(ts) // 300000000 AS bucket, *
      |        FROM events))
      |GROUP BY win, event_type ORDER BY window_start, event_type""".stripMargin

  // --------------------------------------------- e82 sessionize

  /** e82: gap-based sessionization (30-minute inactivity closes a
    * session) — the canonical stateful-stream op as a batch window
    * program: lag → new-session flag → running sum = session index. */
  def sessionize(s: SparkSession, d: String): DataFrame = {
    // all ordering + gap arithmetic on exact integer microseconds:
    // both engines truncate the parquet ns identically, and a float
    // seconds key could order sub-µs ties differently than DuckDB's
    // µs-truncated timestamp. Floats appear only in the final rounding.
    val byUser = Window.partitionBy("user_id").orderBy("tsus", "event_id")
    val sessions = events(s, d)
      .withColumn("tsus", expr("ts div 1000"))
      .withColumn("prev", lag("tsus", 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev").isNull || col("tsus") - col("prev") > 1800000000L, 1L)
          .otherwise(0L))
      .withColumn("sess_idx", sum("new_sess").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // durations/averages via integer half-up rounding of exact µs /
    // count rationals (see e80 — float round() ties flip across engines)
    sessions
      .groupBy("user_id", "sess_idx")
      .agg(count(lit(1)).as("n_events"),
        expr("(2 * (max(tsus) - min(tsus)) + 1000) div 2000").as("dur_ms"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        sum("n_events").as("n_events"),
        expr("((2 * sum(n_events) * 10000 + count(1)) div (2 * count(1)))" +
          " / 10000.0D").as("avg_events_per_session"),
        (max("dur_ms") / 1000.0).as("longest_session_s"))
      .orderBy("user_id")
  }

  val sessionizeSql: String =
    """WITH t AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tsus,
      |    lag(epoch_us(ts)) OVER (
      |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev
      |  FROM events),
      |flagged AS (
      |  SELECT user_id, event_id, tsus,
      |    CASE WHEN prev IS NULL OR tsus - prev > 1800000000 THEN 1 ELSE 0 END
      |      AS new_sess
      |  FROM t),
      |sess AS (
      |  SELECT user_id, event_id, tsus,
      |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY tsus, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_idx
      |  FROM flagged),
      |per_session AS (
      |  SELECT user_id, sess_idx, count(*) AS n_events,
      |    (2 * (max(tsus) - min(tsus)) + 1000) // 2000 AS dur_ms
      |  FROM sess GROUP BY user_id, sess_idx)
      |SELECT user_id, count(*) AS n_sessions,
      |  CAST(sum(n_events) AS BIGINT) AS n_events,
      |  ((2 * sum(n_events) * 10000 + count(*)) // (2 * count(*))) / 10000.0
      |    AS avg_events_per_session,
      |  max(dur_ms) / 1000.0 AS longest_session_s
      |FROM per_session GROUP BY user_id ORDER BY user_id""".stripMargin

  // ------------------------------------------------- e83 json

  /** e83: JSON property extraction (`props` is a JSON string column)
    * + distribution by value decile. */
  def jsonProps(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .withColumn("k_decile", (floor(col("k") / 10) * 10).cast("long"))
      .groupBy("k_decile")
      .agg(count(lit(1)).as("n"),
        min("k").as("min_k"), max("k").as("max_k"))
      .orderBy("k_decile")

  val jsonPropsSql: String =
    """SELECT CAST(floor(k / 10) * 10 AS BIGINT) AS k_decile,
      |  count(*) AS n, min(k) AS min_k, max(k) AS max_k
      |FROM (SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |      FROM events)
      |GROUP BY 1 ORDER BY k_decile""".stripMargin

  // ------------------------------------------------ e86 as-of join

  /** e86: AS-OF join — each purchase matched to the user's most recent
    * click at-or-before it. Spark has no asof operator; the scalable
    * formulation is the tagged-union merge: clicks and purchases union
    * into one frame ordered by (tsus, tag) per user, and
    * `last(click_id, ignoreNulls)` over an unbounded-preceding frame
    * carries the newest click forward. One shuffle on user_id (high
    * cardinality — fully parallel), no join explosion, no per-row
    * probes: exactly how an asof join should run at 100 TB.
    *
    * Clicks are first deduped to one per (user, tsus) with max(event_id)
    * as the deterministic keeper, so equal-timestamp ties can't flip
    * between engines. All arithmetic is integer micros. */
  def asofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).withColumn("tsus", expr("ts div 1000"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy("user_id", "tsus").agg(max("event_id").as("click_event_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("tsus"))
    val tagged = clicks
      .select(col("user_id"), col("tsus"), lit(0).as("tag"),
        col("click_event_id"), lit(null).cast("long").as("event_id"))
      .unionByName(purchases
        .select(col("user_id"), col("tsus"), lit(1).as("tag"),
          lit(null).cast("long").as("click_event_id"), col("event_id")))
    // tag orders a click BEFORE a purchase at the same tsus (>= asof)
    val w = Window.partitionBy("user_id").orderBy(col("tsus"), col("tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("last_click_id",
        last(col("click_event_id"), ignoreNulls = true).over(w))
      .withColumn("last_click_tsus",
        last(when(col("tag") === 0, col("tsus")), ignoreNulls = true).over(w))
      .filter(col("tag") === 1 && col("last_click_id").isNotNull)
      .select(col("user_id"), col("event_id").as("purchase_event_id"),
        col("tsus").as("purchase_tsus"),
        col("last_click_id").as("click_event_id"),
        col("last_click_tsus").as("click_tsus"),
        (col("tsus") - col("last_click_tsus")).as("gap_us"))
      .orderBy("purchase_event_id")
  }

  /** DuckDB twin: native ASOF JOIN over the same deduped click set. */
  val asofJoinSql: String =
    """WITH ev AS (SELECT event_id, epoch_us(ts) AS tsus, user_id, event_type
      |            FROM events),
      |clicks AS (
      |  SELECT user_id, tsus, max(event_id) AS click_event_id
      |  FROM ev WHERE event_type = 'click' GROUP BY 1, 2),
      |purchases AS (
      |  SELECT user_id, event_id, tsus FROM ev WHERE event_type = 'purchase')
      |SELECT p.user_id, p.event_id AS purchase_event_id,
      |  p.tsus AS purchase_tsus, c.click_event_id, c.tsus AS click_tsus,
      |  p.tsus - c.tsus AS gap_us
      |FROM purchases p ASOF JOIN clicks c
      |  ON p.user_id = c.user_id AND p.tsus >= c.tsus
      |ORDER BY purchase_event_id""".stripMargin

  // ----------------------------------------------- e87 range join

  private val rangeUs = 600000000L // 10 minutes in micros

  /** e87: RANGE join — clicks by the same user in the 10 minutes before
    * each error. The scalable shape is time-bucket blocking: clicks key
    * by their Δ-bucket, each error probes its own and the previous
    * bucket (a band of width Δ spans at most 2 buckets), and the exact
    * band predicate filters after the equi-join on (user, bucket). The
    * pair space is bounded by co-bucketed rows — never a full
    * inequality cross join, which is what a naive range join plans. */
  def rangeJoin(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).withColumn("tsus", expr("ts div 1000"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("error_event_id"), col("tsus"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("tsus").as("ctsus"))
      .withColumn("bucket", expr(s"ctsus div $rangeUs"))
    val probes = errors.withColumn("bucket",
      explode(array(expr(s"tsus div $rangeUs"), expr(s"tsus div $rangeUs - 1"))))
    val hits = probes.join(clicks, Seq("user_id", "bucket"))
      .filter(col("ctsus") >= col("tsus") - rangeUs && col("ctsus") < col("tsus"))
      .groupBy("error_event_id").agg(count(lit(1)).as("n"))
    errors.join(hits, Seq("error_event_id"), "left")
      .select(col("error_event_id"), col("user_id"),
        coalesce(col("n"), lit(0L)).as("n_clicks_10m"))
      .orderBy("error_event_id")
  }

  /** DuckDB twin: plain inequality-band left join (same semantics the
    * bucketed plan computes). */
  val rangeJoinSql: String =
    s"""WITH ev AS (SELECT event_id, epoch_us(ts) AS tsus, user_id, event_type
      |            FROM events),
      |errors AS (SELECT user_id, event_id AS error_event_id, tsus
      |           FROM ev WHERE event_type = 'error'),
      |clicks AS (SELECT user_id, tsus AS ctsus FROM ev
      |           WHERE event_type = 'click')
      |SELECT e.error_event_id, e.user_id,
      |  CAST(count(c.ctsus) AS BIGINT) AS n_clicks_10m
      |FROM errors e LEFT JOIN clicks c
      |  ON c.user_id = e.user_id
      |  AND c.ctsus >= e.tsus - $rangeUs AND c.ctsus < e.tsus
      |GROUP BY 1, 2 ORDER BY error_event_id""".stripMargin

  // ------------------------------------------ e91 windowed top event

  /** e91: trending detection — the top event_type per 5-minute tumbling
    * window. The argmax is `max(struct(n, event_type))` over the
    * per-(window, type) counts: a two-level aggregation with map-side
    * partials on both levels, no window sort anywhere (the shape that
    * survives 100× — per-window candidate sets reduce inside each scan
    * partition before the one narrow exchange). Ties on the count break
    * to the lexicographically greatest type, which the struct comparison
    * and the oracle's max-over-tied-rows both implement. */
  def windowTopEvent(s: SparkSession, d: String): DataFrame =
    topEventFromCounts(events(s, d)
      .withColumn("bucket", expr("(ts div 1000) div 300000000"))
      .groupBy("bucket", "event_type")
      .agg(count(lit(1)).as("n")))

  /** Per-window argmax + projection over (bucket, event_type, n)
    * counts — shared by e91 (batch) and e92 (its streaming twin reads
    * the counts from streaming state), so a tie-break or bucket change
    * can never desynchronize the pair. */
  private[graft] def topEventFromCounts(counts: DataFrame): DataFrame =
    counts
      .groupBy("bucket")
      .agg(max(struct(col("n"), col("event_type"))).as("m"))
      .select(timestamp_seconds(col("bucket") * 300).as("window_start"),
        col("m.event_type").as("top_event_type"),
        col("m.n").as("n_events"))
      .orderBy("window_start")

  val windowTopEventSql: String =
    """WITH c AS (
      |  SELECT epoch_us(ts) // 300000000 AS bucket, event_type,
      |    count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |m AS (SELECT bucket, max(n) AS mx FROM c GROUP BY 1)
      |SELECT CAST(to_timestamp(bucket * 300) AS TIMESTAMP) AS window_start,
      |  max(c.event_type) AS top_event_type, CAST(mx AS BIGINT) AS n_events
      |FROM c JOIN m USING (bucket) WHERE c.n = m.mx
      |GROUP BY bucket, mx ORDER BY window_start""".stripMargin

  // ------------------------------------------------- e93 funnel

  /** e93: strict-order conversion funnel signup → view → click →
    * purchase. Per user the stage times satisfy t1 < t2 < t3 < t4 with
    * each t(i) the EARLIEST qualifying event after t(i-1). The scalable
    * shape is a single shuffle on user_id: each user's (tsus, stage)
    * events are collected, sorted, and folded left-to-right by one
    * codegen'd `aggregate` HOF — the fold sets each stage time exactly
    * once, so it computes the same sequential mins the oracle's chained
    * CTEs do without re-scanning the events once per stage (4 scans →
    * 1) or any window sort. Per-user event counts bound the array (no
    * skew risk beyond what sessionization already tolerates). Counts +
    * conversion ppm (exact integer division) per stage. */
  def funnel(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
      .filter(col("event_type").isin("signup", "view", "click", "purchase"))
      .select(col("user_id"), expr("ts div 1000").as("tsus"),
        expr("CASE event_type WHEN 'signup' THEN 0 WHEN 'view' THEN 1" +
          " WHEN 'click' THEN 2 ELSE 3 END").as("tp"))
    funnelStages(ev)
      // coalesce: a global agg over ZERO users (degenerate corpus with
      // no funnel events) yields one all-NULL row in Spark while the
      // oracle's scalar-subquery counts return 0 — the stack expr's
      // `WHEN n1 = 0` branch must see 0, not NULL, in both engines
      .agg(coalesce(sum(when(col("st.t1").isNotNull, 1L).otherwise(0L)), lit(0L)).as("n1"),
        coalesce(sum(when(col("st.t2").isNotNull, 1L).otherwise(0L)), lit(0L)).as("n2"),
        coalesce(sum(when(col("st.t3").isNotNull, 1L).otherwise(0L)), lit(0L)).as("n3"),
        coalesce(sum(when(col("st.t4").isNotNull, 1L).otherwise(0L)), lit(0L)).as("n4"))
      .select(expr(funnelStackExpr))
      .orderBy("stage_idx")
  }

  /** Per-user funnel stage times from a (user_id, tsus, tp) event
    * frame — the sequential-min fold, factored out so property tests
    * can drive it with arbitrary event sets. Returns one row per user
    * with the `st` struct (t1..t4, NULL = stage not reached). */
  private[graft] def funnelStages(ev: DataFrame): DataFrame =
    ev.groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("tsus"), col("tp")))).as("evs"))
      .withColumn("st", expr(
        """aggregate(evs,
          |  named_struct('t1', CAST(NULL AS BIGINT), 't2', CAST(NULL AS BIGINT),
          |               't3', CAST(NULL AS BIGINT), 't4', CAST(NULL AS BIGINT)),
          |  (a, e) -> named_struct(
          |    't1', CASE WHEN a.t1 IS NULL AND e.tp = 0
          |               THEN e.tsus ELSE a.t1 END,
          |    't2', CASE WHEN a.t2 IS NULL AND e.tp = 1
          |                AND a.t1 IS NOT NULL AND e.tsus > a.t1
          |               THEN e.tsus ELSE a.t2 END,
          |    't3', CASE WHEN a.t3 IS NULL AND e.tp = 2
          |                AND a.t2 IS NOT NULL AND e.tsus > a.t2
          |               THEN e.tsus ELSE a.t3 END,
          |    't4', CASE WHEN a.t4 IS NULL AND e.tp = 3
          |                AND a.t3 IS NOT NULL AND e.tsus > a.t3
          |               THEN e.tsus ELSE a.t4 END))""".stripMargin))

  /** Shared final projection (e93 batch + e95 streaming twin): a
    * single (n1..n4) row unpivoted to 4 funnel rows with integer-exact
    * conversion ppm. */
  private[graft] val funnelStackExpr: String =
    """stack(4,
      |  CAST(1 AS BIGINT), 'signup',   n1,
      |    CASE WHEN n1 = 0 THEN CAST(0 AS BIGINT)
      |         ELSE (n1 * 1000000) div n1 END,
      |  CAST(2 AS BIGINT), 'view',     n2,
      |    CASE WHEN n1 = 0 THEN CAST(0 AS BIGINT)
      |         ELSE (n2 * 1000000) div n1 END,
      |  CAST(3 AS BIGINT), 'click',    n3,
      |    CASE WHEN n1 = 0 THEN CAST(0 AS BIGINT)
      |         ELSE (n3 * 1000000) div n1 END,
      |  CAST(4 AS BIGINT), 'purchase', n4,
      |    CASE WHEN n1 = 0 THEN CAST(0 AS BIGINT)
      |         ELSE (n4 * 1000000) div n1 END)
      |  AS (stage_idx, stage, n_users, conv_ppm)""".stripMargin

  /** DuckDB twin: chained min-after-previous-stage CTEs (the textbook
    * funnel formulation — 4 scans, same semantics as the fold). */
  val funnelSql: String =
    """WITH ev AS (SELECT user_id, epoch_us(ts) AS tsus, event_type
      |            FROM events),
      |s1 AS (SELECT user_id, min(tsus) AS t1 FROM ev
      |       WHERE event_type = 'signup' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(e.tsus) AS t2 FROM ev e
      |       JOIN s1 USING (user_id)
      |       WHERE e.event_type = 'view' AND e.tsus > s1.t1 GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(e.tsus) AS t3 FROM ev e
      |       JOIN s2 USING (user_id)
      |       WHERE e.event_type = 'click' AND e.tsus > s2.t2 GROUP BY 1),
      |s4 AS (SELECT e.user_id, min(e.tsus) AS t4 FROM ev e
      |       JOIN s3 USING (user_id)
      |       WHERE e.event_type = 'purchase' AND e.tsus > s3.t3 GROUP BY 1),
      |c AS (SELECT (SELECT count(*) FROM s1) AS n1,
      |             (SELECT count(*) FROM s2) AS n2,
      |             (SELECT count(*) FROM s3) AS n3,
      |             (SELECT count(*) FROM s4) AS n4)
      |SELECT * FROM (
      |  SELECT CAST(1 AS BIGINT) stage_idx, 'signup' stage,
      |    CAST(n1 AS BIGINT) n_users,
      |    CASE WHEN n1 = 0 THEN 0 ELSE (n1 * 1000000) // n1 END conv_ppm
      |  FROM c
      |  UNION ALL SELECT 2, 'view', n2,
      |    CASE WHEN n1 = 0 THEN 0 ELSE (n2 * 1000000) // n1 END FROM c
      |  UNION ALL SELECT 3, 'click', n3,
      |    CASE WHEN n1 = 0 THEN 0 ELSE (n3 * 1000000) // n1 END FROM c
      |  UNION ALL SELECT 4, 'purchase', n4,
      |    CASE WHEN n1 = 0 THEN 0 ELSE (n4 * 1000000) // n1 END FROM c)
      |ORDER BY stage_idx""".stripMargin

  // ---------------------------------------------- e94 retention

  /** e94: weekly cohort retention — users grouped by first-activity
    * week, counted again in each later week they were active, with the
    * retention rate as exact integer ppm. One shuffle on user_id to find
    * first-activity days, one equi-join back (user_id again — AQE
    * coalesces the two into co-partitioned stages), one narrow agg on
    * (cohort_week, week_offset); the per-cohort sizes are a tiny frame
    * broadcast back for the ratio. Day/week bucketing is integer
    * arithmetic on epoch micros — no calendar functions to disagree
    * across engines. */
  def retention(s: SparkSession, d: String): DataFrame =
    cohortsFromDays(events(s, d)
      .select(col("user_id"), expr("(ts div 1000) div 86400000000").as("day"))
      .distinct())

  /** Cohort computation over distinct (user_id, day) activity pairs —
    * shared by e94 (batch) and e96 (its streaming twin, which feeds
    * the pairs from dropDuplicates state instead of a batch
    * distinct). */
  private[graft] def cohortsFromDays(days: DataFrame): DataFrame = {
    // rename the aggregated side: `days` may be a memory-sink VIEW
    // (e96), whose self-join would otherwise hit conflicting attribute
    // references — a fresh alias gives the join distinct expr ids
    val first = days.groupBy("user_id").agg(min("day").as("d0"))
      .toDF("fuid", "d0")
    val weeks = days.join(first, col("user_id") === col("fuid"))
      .select(col("user_id"), expr("d0 div 7").as("cohort_week"),
        expr("(day - d0) div 7").as("week_offset"))
      .distinct()
    val sizes = weeks.filter(col("week_offset") === 0)
      .groupBy("cohort_week").agg(count(lit(1)).as("cohort_users"))
    weeks.groupBy("cohort_week", "week_offset")
      .agg(count(lit(1)).as("n_users"))
      .join(broadcast(sizes), "cohort_week")
      .select(col("cohort_week"), col("week_offset"), col("n_users"),
        expr("(n_users * 1000000) div cohort_users").as("retention_ppm"))
      .orderBy("cohort_week", "week_offset")
  }

  val retentionSql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      |  FROM events),
      |first AS (SELECT user_id, min(day) AS d0 FROM days GROUP BY 1),
      |weeks AS (
      |  SELECT DISTINCT d.user_id, f.d0 // 7 AS cohort_week,
      |    (d.day - f.d0) // 7 AS week_offset
      |  FROM days d JOIN first f USING (user_id)),
      |sizes AS (SELECT cohort_week, count(*) AS cohort_users FROM weeks
      |          WHERE week_offset = 0 GROUP BY 1)
      |SELECT w.cohort_week, w.week_offset, count(*) AS n_users,
      |  (count(*) * 1000000) // s.cohort_users AS retention_ppm
      |FROM weeks w JOIN sizes s USING (cohort_week)
      |GROUP BY w.cohort_week, w.week_offset, s.cohort_users
      |ORDER BY cohort_week, week_offset""".stripMargin

  // ---------------------------------------------- e97 rate spikes

  /** e97: event-rate anomaly detection — hourly per-type counts
    * flagged when the hour exceeds 3× its trailing-6-hour mean
    * (`n·2 > Σ prev-6`, exact integers — no fp z-score to drift
    * cross-engine). Aggregate-then-window (the q51 lesson): the RANGE
    * frame runs over the per-(type, hour) aggregate, whose size is
    * calendar-bounded — the raw events reduce map-side first, and
    * hours with no predecessor history (empty frame → NULL) are never
    * flagged. */
  def rateSpikes(s: SparkSession, d: String): DataFrame = {
    val hourly = events(s, d)
      .withColumn("bucket", expr("(ts div 1000) div 3600000000"))
      .groupBy("bucket", "event_type")
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy("event_type").orderBy("bucket")
      .rangeBetween(-6, -1)
    hourly
      .withColumn("trailing6", sum("n_events").over(w))
      .filter(col("trailing6").isNotNull &&
        col("n_events") * 2 > col("trailing6"))
      .select(timestamp_seconds(col("bucket") * 3600).as("window_start"),
        col("event_type"), col("n_events"), col("trailing6"))
      .orderBy("window_start", "event_type")
  }

  val rateSpikesSql: String =
    """WITH c AS (
      |  SELECT epoch_us(ts) // 3600000000 AS bucket, event_type,
      |    count(*) AS n_events
      |  FROM events GROUP BY 1, 2),
      |w AS (
      |  SELECT bucket, event_type, n_events,
      |    sum(n_events) OVER (PARTITION BY event_type ORDER BY bucket
      |      RANGE BETWEEN 6 PRECEDING AND 1 PRECEDING) AS trailing6
      |  FROM c)
      |SELECT CAST(to_timestamp(bucket * 3600) AS TIMESTAMP) AS window_start,
      |  event_type, n_events, CAST(trailing6 AS BIGINT) AS trailing6
      |FROM w WHERE trailing6 IS NOT NULL AND n_events * 2 > trailing6
      |ORDER BY window_start, event_type""".stripMargin

  // ------------------------------------------------ e103 integer EWMA

  /** e103: exponentially weighted moving average of daily per-type
    * event value — the trend-smoothing pass behind alerting baselines
    * and forecast seeds. α = 1/4 in pure integer arithmetic
    * (s₁ = x₁; sₜ = (3·sₜ₋₁ + xₜ) div 4, all non-negative), so the
    * inherently sequential recurrence is bit-reproducible against the
    * oracle's recursive CTE.
    *
    * Scale shape: the corpus aggregates FIRST to a (type, day) frame —
    * calendar-bounded, ≤366·#types rows/year — and only that tiny
    * frame is collected per type and folded by one codegen'd
    * `aggregate` HOF; the events table itself sees a single map-side-
    * combining groupBy. The fold is the correct tool precisely because
    * an EWMA cannot be windowed: every output depends on the whole
    * prefix. */
  def ewmaDaily(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .withColumn("day", expr("(ts div 1000) div 86400000000"))
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy("event_type", "day").agg(sum("cents").as("cents"))
    daily
      .groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("day"), col("cents"))))
        .as("days"))
      .withColumn("ew", expr(
        """aggregate(days,
          |  CAST(array() AS ARRAY<STRUCT<day: BIGINT, s: BIGINT>>),
          |  (acc, x) -> acc || array(named_struct(
          |    'day', x.day,
          |    's', CASE WHEN size(acc) = 0 THEN x.cents
          |         ELSE (3 * element_at(acc, -1).s + x.cents) div 4
          |         END)))""".stripMargin))
      .select(col("event_type"), explode(col("ew")).as("e"))
      .select(col("event_type"),
        timestamp_seconds(col("e.day") * 86400L).as("day_ts"),
        col("e.s").as("ewma_cents"))
      .orderBy("event_type", "day_ts")
  }

  val ewmaDailySql: String =
    """WITH RECURSIVE daily AS (
      |  SELECT event_type, day, cents, row_number() OVER (
      |    PARTITION BY event_type ORDER BY day) AS rn
      |  FROM (
      |    SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |      sum(CAST(round(value * 100) AS BIGINT)) AS cents
      |    FROM events GROUP BY 1, 2)),
      |ew(event_type, rn, day, s) AS (
      |  SELECT event_type, rn, day, cents FROM daily WHERE rn = 1
      |  UNION ALL
      |  SELECT d.event_type, d.rn, d.day, (3 * ew.s + d.cents) // 4
      |  FROM ew JOIN daily d
      |    ON d.event_type = ew.event_type AND d.rn = ew.rn + 1)
      |SELECT event_type, make_timestamp(day * 86400000000) AS day_ts,
      |  CAST(s AS BIGINT) AS ewma_cents
      |FROM ew ORDER BY event_type, day_ts""".stripMargin

  /** e113: clickstream TRANSITION matrix — first-order Markov counts
    * over session-local event pairs: for each user's time-ordered
    * stream, every adjacent (prev_type → type) pair within e82's
    * 30-minute session gap counts one transition, and each row of the
    * matrix carries its count plus the row-normalized probability in
    * exact ppm (integer `div`, engine-exact). The "where do users go
    * next" table behind funnel design and anomaly baselines.
    *
    * Scale shape: ONE user_id shuffle (the funnel/sessionize
    * contract); the lag window is per-user-local, transition counts
    * partial-aggregate map-side into an |event-type|² frame (tiny by
    * construction), and the row totals broadcast back onto it. */
  def transitionMatrix(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("tsus", "event_id")
    val seq = events(s, d)
      .withColumn("tsus", expr("ts div 1000"))
      .withColumn("prev_ts", lag("tsus", 1).over(byUser))
      .withColumn("prev_type", lag("event_type", 1).over(byUser))
    transitionFinish(seq
      .filter(col("prev_type").isNotNull &&
        col("tsus") - col("prev_ts") <= 1800000000L)
      .select(col("prev_type").as("from_type"),
        col("event_type").as("to_type")))
  }

  /** Aggregation epilogue shared by e113 and its streaming twin
    * (e114): a raw (from_type, to_type) transition-fact frame → the
    * counted matrix with row-normalized exact-ppm probabilities. */
  private[graft] def transitionFinish(pairs: DataFrame): DataFrame = {
    val trans = pairs
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"))
    val totals = trans.groupBy("from_type").agg(sum("n").as("tn"))
    trans.join(broadcast(totals), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        expr("(1000000 * n) div tn").as("p_ppm"))
      .orderBy("from_type", "to_type")
  }

  val transitionMatrixSql: String =
    """WITH t AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tsus,
      |    lag(epoch_us(ts)) OVER w AS prev_ts,
      |    lag(event_type) OVER w AS prev_type
      |  FROM events
      |  WINDOW w AS (
      |    PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
      |tr AS (
      |  SELECT prev_type AS from_type, event_type AS to_type,
      |    count(*) AS n
      |  FROM t
      |  WHERE prev_type IS NOT NULL AND tsus - prev_ts <= 1800000000
      |  GROUP BY 1, 2),
      |tot AS (SELECT from_type, sum(n) AS tn FROM tr GROUP BY 1)
      |SELECT tr.from_type, tr.to_type, CAST(tr.n AS BIGINT) AS n,
      |  CAST((1000000 * tr.n) // tot.tn AS BIGINT) AS p_ppm
      |FROM tr JOIN tot ON tot.from_type = tr.from_type
      |ORDER BY tr.from_type, tr.to_type""".stripMargin

  /** e124: per-type top-k events by value — the production top-N-per-
    * group shape, declared as the PLAIN window-rank filter on purpose:
    * Spark 4 plans `row_number() ≤ k` with `WindowGroupLimit …
    * Partial` BELOW the exchange, so every map task forwards at most
    * k rows per key and a hot key cannot flood its reducer — the same
    * native skew immunity partial aggregation gives aggregates. An
    * explicit salt decomposition was measured 1.97× SLOWER on a
    * 5M-row 60%-hot corpus and removed (SCALE.md, SKEW_DETAIL.json
    * topk_window_plain_vs_salted); `graft.Dev audit` shows the
    * Partial group-limit in this entry's executed plan. The ordering
    * (value desc, event_id asc) is total, so the oracle's single-sort
    * semantics hash-match exactly. */
  def topkPerKeyEvents(s: SparkSession, d: String): DataFrame = {
    val ev = graft.Tables.events(s, d)
      .select(col("event_type"), col("event_id"), col("value"))
    ev.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("event_type")
          .orderBy(col("value").desc, col("event_id").asc)))
      .filter(col("rank") <= 10)
      .select(col("event_type"), col("rank").cast("long").as("rank"),
        col("event_id"))
      .orderBy("event_type", "rank")
  }

  val topkPerKeyEventsSql: String =
    """SELECT event_type, rank, event_id FROM (
      |  SELECT event_type, event_id,
      |    row_number() OVER (PARTITION BY event_type
      |                       ORDER BY value DESC, event_id) AS rank
      |  FROM events)
      |WHERE rank <= 10
      |ORDER BY event_type, rank""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e113_transition_matrix" -> transitionMatrix _,
    "e124_topk_per_key" -> topkPerKeyEvents _,
    "e80_tumbling_window" -> tumblingWindow _,
    "e81_hopping_window"  -> hoppingWindow _,
    "e82_sessionize"      -> sessionize _,
    "e83_json_props"      -> jsonProps _,
    "e86_asof_join"       -> asofJoin _,
    "e87_range_join"      -> rangeJoin _,
    "e91_window_top_event" -> windowTopEvent _,
    "e93_funnel"          -> funnel _,
    "e94_retention"       -> retention _,
    "e97_rate_spikes"     -> rateSpikes _,
    "e103_ewma_daily"     -> ewmaDaily _,
  )

  val oracleSql: Map[String, String] = Map(
    "e80_tumbling_window" -> tumblingWindowSql,
    "e81_hopping_window"  -> hoppingWindowSql,
    "e82_sessionize"      -> sessionizeSql,
    "e83_json_props"      -> jsonPropsSql,
    "e86_asof_join"       -> asofJoinSql,
    "e87_range_join"      -> rangeJoinSql,
    "e91_window_top_event" -> windowTopEventSql,
    "e93_funnel"          -> funnelSql,
    "e94_retention"       -> retentionSql,
    "e97_rate_spikes"     -> rateSpikesSql,
    "e103_ewma_daily"     -> ewmaDailySql,
    "e113_transition_matrix" -> transitionMatrixSql,
    "e124_topk_per_key" -> topkPerKeyEventsSql,
  )
}
