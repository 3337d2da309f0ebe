package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.{Events, TextAnalysis}

/** Oracle corpus for the event-stream operators ([[graft.ops.Events]]):
  * as-of join and gap-based sessionization over the `events` table.
  * Timestamps are int64 epoch-nanos on both engines
  * ([[graft.ops.Events.load]] normalizes the fixture's
  * TIMESTAMP(MICROS) — or legacy nanos-as-long — column to epoch-nanos;
  * DuckDB uses `epoch_ns`), so every comparison is exact integer
  * arithmetic.
  *
  * The DuckDB side is a deliberately INDEPENDENT formulation (left
  * join + row_number qualify for as-of; plain window SQL for
  * sessionization) so the oracle checks semantics, not a transliterated
  * plan.
  */
object EventQueries {

  private def events(s: SparkSession, dir: String): DataFrame =
    Events.load(s, s"$dir/events.parquet")

  /** Session gap: 6 hours, in nanos. */
  val SessionGapNanos: Long = 6L * 3600 * 1000000000L

  /** As-of join: every non-purchase event picks up the user's most
    * recent purchase at-or-before it; per-event-type match stats. */
  private val eventsAsof = Q("q_events_asof",
    (s, d) => {
      val ev = events(s, d)
      val left = ev.where(col("event_type") =!= "purchase")
        .select("event_id", "user_id", "ts", "event_type", "value")
      val right = ev.where(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id", "value")
      Events.asofJoin(left, right, "user_id", "ts", "event_id",
        Seq("event_id", "value"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("asof_event_id").isNotNull, 1L).otherwise(0L))
            .as("n_matched"),
          sum(coalesce(col("asof_event_id"), lit(0L))).as("pid_sum"),
          round(avg(col("value") - col("asof_value")), 5).as("avg_lift"))
        .orderBy("event_type")
    },
    "WITH l AS (SELECT event_id, user_id, epoch_ns(ts) AS tsn, " +
      "event_type, value FROM events WHERE event_type <> 'purchase'), " +
      "r AS (SELECT event_id, user_id, epoch_ns(ts) AS tsn, value " +
      "FROM events WHERE event_type = 'purchase'), " +
      "j AS (SELECT l.event_id, l.event_type, l.value, " +
      "r.event_id AS pid, r.value AS pvalue, " +
      "row_number() OVER (PARTITION BY l.event_id " +
      "ORDER BY r.tsn DESC, r.event_id DESC) AS rk " +
      "FROM l LEFT JOIN r ON l.user_id = r.user_id AND r.tsn <= l.tsn) " +
      "SELECT event_type, count(*) AS n, " +
      "CAST(sum(CASE WHEN pid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_matched, CAST(sum(coalesce(pid, 0)) AS BIGINT) AS pid_sum, " +
      "round(avg(value - pvalue), 5) AS avg_lift " +
      "FROM j WHERE rk = 1 GROUP BY event_type ORDER BY event_type")

  /** Gap-based sessionization: 6-hour gap splits a user's stream into
    * sessions; per-cohort (user_id mod 10) session-shape stats. */
  private val eventsSessionize = Q("q_events_sessionize",
    (s, d) => {
      val sess = Events.sessionStats(
        Events.sessionize(events(s, d), "user_id", "ts", "event_id",
          SessionGapNanos), "user_id", "ts")
      sess.groupBy((col("user_id") % 10).as("cohort"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("n_events")).as("n_events"),
          max(col("n_events")).as("max_len"),
          sum(when(col("n_events") === 1, 1L).otherwise(0L))
            .as("n_singleton"),
          round(avg(col("span_ns") / lit(1e9)), 5).as("avg_span_sec"))
        .orderBy("cohort")
    },
    "WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS tsn FROM events), " +
      "g AS (SELECT user_id, event_id, tsn, CASE WHEN " +
      "lag(tsn) OVER (PARTITION BY user_id ORDER BY tsn, event_id) IS NULL " +
      "OR tsn - lag(tsn) OVER (PARTITION BY user_id ORDER BY tsn, event_id) " +
      s"> $SessionGapNanos THEN 1 ELSE 0 END AS nw FROM e), " +
      "si AS (SELECT user_id, tsn, sum(nw) OVER (PARTITION BY user_id " +
      "ORDER BY tsn, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND " +
      "CURRENT ROW) AS session_idx FROM g), " +
      "sess AS (SELECT user_id, session_idx, count(*) AS n_events, " +
      "max(tsn) - min(tsn) AS span_ns FROM si GROUP BY 1, 2) " +
      "SELECT user_id % 10 AS cohort, count(*) AS n_sessions, " +
      "CAST(sum(n_events) AS BIGINT) AS n_events, max(n_events) AS max_len, " +
      "CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_singleton, round(avg(span_ns / 1000000000.0), 5) " +
      "AS avg_span_sec FROM sess GROUP BY cohort ORDER BY cohort")

  /** Semi-structured payload parsing: the `props` column is a JSON
    * object; Spark parses it with a real `from_json` schema (the
    * schema-on-read path — at scale this is a codegen'd map, no UDF),
    * while the oracle extracts the field with an independent regexp
    * formulation, so the check is on VALUES, not a shared parser. */
  private val eventsProps = Q("q_events_props",
    (s, d) => events(s, d)
      .select(col("event_type"),
        from_json(col("props"), org.apache.spark.sql.types.StructType
          .fromDDL("k INT")).getField("k").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("k").isNotNull, 1L).otherwise(0L)).as("n_parsed"),
        sum(coalesce(col("k").cast("long"), lit(0L))).as("k_sum"),
        max(col("k").cast("long")).as("k_max"))
      .orderBy("event_type"),
    "SELECT event_type, count(*) AS n, " +
      "CAST(sum(CASE WHEN regexp_extract(props, '\"k\": ([0-9]+)', 1) " +
      "<> '' THEN 1 ELSE 0 END) AS BIGINT) AS n_parsed, " +
      "CAST(sum(coalesce(CAST(NULLIF(regexp_extract(props, " +
      "'\"k\": ([0-9]+)', 1), '') AS BIGINT), 0)) AS BIGINT) AS k_sum, " +
      "max(CAST(NULLIF(regexp_extract(props, '\"k\": ([0-9]+)', 1), '') " +
      "AS BIGINT)) AS k_max " +
      "FROM events GROUP BY event_type ORDER BY event_type")

  /** Range (interval-containment) join: every non-purchase event
    * joined to the ±30-minute windows around the same user's
    * purchases, via interval bucketing (hash join, never a per-key
    * nested loop); the oracle is DuckDB's native range join. */
  val RangeHalfWidthNs: Long = 30L * 60 * 1000000000L
  private val eventsRange = Q("q_events_range",
    (s, d) => {
      val ev = events(s, d)
      val points = ev.where(col("event_type") =!= "purchase")
        .select("event_id", "user_id", "ts", "value")
      val intervals = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          (col("ts") - lit(RangeHalfWidthNs)).as("lo"),
          (col("ts") + lit(RangeHalfWidthNs)).as("hi"))
      val joined = Events.rangeJoinBucketed(points, intervals,
        "user_id", "ts", "lo", "hi", bucketNs = 2L * RangeHalfWidthNs)
      joined.agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("event_id")).as("n_covered"),
        sum_distinct(col("event_id")).as("covered_id_sum"),
        countDistinct(col("purchase_id")).as("n_active_windows"))
    },
    "WITH p AS (SELECT event_id, user_id, epoch_ns(ts) AS tsn " +
      "FROM events WHERE event_type <> 'purchase'), " +
      "w AS (SELECT user_id, event_id AS purchase_id, " +
      s"epoch_ns(ts) - $RangeHalfWidthNs AS lo, " +
      s"epoch_ns(ts) + $RangeHalfWidthNs AS hi " +
      "FROM events WHERE event_type = 'purchase'), " +
      "j AS (SELECT p.event_id, w.purchase_id FROM p JOIN w " +
      "ON p.user_id = w.user_id AND p.tsn >= w.lo AND p.tsn <= w.hi) " +
      "SELECT count(*) AS n_pairs, " +
      "count(DISTINCT event_id) AS n_covered, " +
      "CAST(sum(DISTINCT event_id) AS BIGINT) AS covered_id_sum, " +
      "count(DISTINCT purchase_id) AS n_active_windows FROM j")

  /** Z-order (Morton) values over (user_id, absolute day): the
    * bit-interleave that drives multi-dimensional file clustering,
    * checked as exact integer arithmetic per event_type. */
  private val eventsZorder = Q("q_layout_zorder",
    (s, d) => {
      val day = expr("ts div 86400000000000").bitwiseAND(lit(31L))
      val u = col("user_id").bitwiseAND(lit(127L))
      events(s, d)
        .select(col("event_type"),
          graft.ops.Layout.zValue(u, day, bits = 8).as("z"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("z")).as("z_sum"),
          min(col("z")).as("z_min"), max(col("z")).as("z_max"))
        .orderBy("event_type")
    }, {
      val z = graft.ops.Layout.ZValueSql("(user_id & 127)",
        "((epoch_ns(ts) // 86400000000000) & 31)", bits = 8)
      s"SELECT event_type, count(*) AS n, CAST(sum($z) AS BIGINT) " +
        s"AS z_sum, min($z) AS z_min, max($z) AS z_max " +
        "FROM events GROUP BY event_type ORDER BY event_type"
    })

  /** Hilbert-curve layout beside Z-order ([[graft.ops.Layout
    * .hilbertValue]], the codegen'd xy2d walk): the same (user, day)
    * grid as q_layout_zorder, indexed by BOTH curves, with the
    * locality property MEASURED — walk each curve's occupied cells in
    * index order and sum the grid (Manhattan) jump between
    * consecutive cells. Consecutive Hilbert positions are always
    * grid-adjacent, so Hilbert's total jump is structurally smaller
    * than Z's quadrant-seam hops — the reason file min/max ranges
    * come out tighter under Hilbert clustering. The walk runs on the
    * OCCUPIED-CELL grain (≤ 2^12 rows by construction — a bounded
    * post-agg window, the eventPaths precedent); the per-event index
    * checksum pins every row's curve assignment at corpus grain. One
    * map pass + one cell aggregate; no data-sized window. */
  private val HilbertBits = 8
  private val eventsHilbert = Q("q_layout_hilbert",
    (s, d) => {
      val day = expr("ts div 86400000000000").bitwiseAND(lit(31L))
      val u = col("user_id").bitwiseAND(lit(127L))
      val cells = events(s, d)
        .select(u.as("u"), day.as("day"))
        .groupBy("u", "day").agg(count(lit(1)).as("n"))
        .select(col("u"), col("day"), col("n"),
          graft.ops.Layout.hilbertValue(col("u"), col("day"),
            HilbertBits).as("hix"),
          graft.ops.Layout.zValue(col("u"), col("day"),
            HilbertBits).as("zix"))
      val curves = cells.select(lit("hilbert").as("curve"),
          col("hix").as("ix"), col("u"), col("day"), col("n"))
        .unionByName(cells.select(lit("z").as("curve"),
          col("zix").as("ix"), col("u"), col("day"), col("n")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("curve").orderBy("ix")
      curves
        .select(col("curve"), col("ix"), col("n"),
          (abs(col("u") - lag("u", 1).over(w)) +
            abs(col("day") - lag("day", 1).over(w))).as("jump"))
        .groupBy("curve")
        .agg(count(lit(1)).as("n_cells"),
          sum(col("jump")).as("sum_jump"),
          max(col("jump")).as("max_jump"),
          (sum(col("jump")).cast("double") /
            (count(lit(1)) - 1).cast("double")).as("avg_jump"),
          sum(col("n") * col("ix")).as("ix_checksum"))
        .orderBy("curve")
    }, {
      val z = graft.ops.Layout.ZValueSql("u", "day", HilbertBits)
      "WITH ce AS (SELECT u, day, count(*) AS n FROM (" +
        "SELECT (user_id & 127) AS u, " +
        "((epoch_ns(ts) // 86400000000000) & 31) AS day FROM events) " +
        "GROUP BY u, day), " +
        "cz AS (SELECT u, day, n, u AS hx0, day AS hy0 FROM ce), " +
        graft.ops.Layout.HilbertCtesSql("cz", HilbertBits) + ", " +
        s"ix AS (SELECT u, day, n, hd$HilbertBits AS hix, $z AS zix " +
        s"FROM h$HilbertBits), " +
        "cu AS (SELECT 'hilbert' AS curve, hix AS ix, u, day, n FROM ix " +
        "UNION ALL SELECT 'z' AS curve, zix AS ix, u, day, n FROM ix), " +
        "wj AS (SELECT curve, ix, n, " +
        "abs(u - lag(u) OVER (PARTITION BY curve ORDER BY ix)) + " +
        "abs(day - lag(day) OVER (PARTITION BY curve ORDER BY ix)) " +
        "AS jump FROM cu) " +
        "SELECT curve, count(*) AS n_cells, " +
        "CAST(sum(jump) AS BIGINT) AS sum_jump, " +
        "CAST(max(jump) AS BIGINT) AS max_jump, " +
        "CAST(sum(jump) AS DOUBLE) / CAST(count(*) - 1 AS DOUBLE) " +
        "AS avg_jump, " +
        "CAST(sum(n * ix) AS BIGINT) AS ix_checksum " +
        "FROM wj GROUP BY curve ORDER BY curve"
    })

  /** One day in nanos — the tumbling-window width. */
  private val DayNanos = 86400000000000L

  /** Tumbling-window per-type aggregates: per event_type, window
    * counts / totals / the peak window, and a day-index checksum that
    * pins every event's bucket assignment. Exact int64 window math on both
    * engines; the per-window grain is ONE hash aggregate, no window
    * function. */
  private val eventsWindow = Q("q_events_window",
    (s, d) => {
      val w = Events.tumblingAgg(events(s, d), "ts", DayNanos,
        Seq("event_type"), col("value"))
        .withColumn("widx", expr(s"window_start div $DayNanos"))
      w.groupBy("event_type")
        .agg(count(lit(1)).as("n_windows"),
          sum(col("n")).as("n_events"),
          max(col("n")).as("peak_n"),
          sum(col("widx") * col("n")).as("widx_checksum"),
          round(sum(col("sum_value")), 5).as("sum_value"))
        .orderBy("event_type")
    },
    s"WITH w AS (SELECT event_type, epoch_ns(ts) // $DayNanos AS widx, " +
      "count(*) AS n, sum(value) AS sv FROM events GROUP BY 1, 2) " +
      "SELECT event_type, count(*) AS n_windows, " +
      "CAST(sum(n) AS BIGINT) AS n_events, " +
      "CAST(max(n) AS BIGINT) AS peak_n, " +
      "CAST(sum(widx * n) AS BIGINT) AS widx_checksum, " +
      "round(sum(sv), 5) AS sum_value " +
      "FROM w GROUP BY event_type ORDER BY event_type")

  /** 40-bit mod for timestamp checksums (sums of raw epoch-nanos
    * would overflow int64). */
  private val TsMod = 1099511627776L

  /** First-touch conversion funnel view → click → purchase
    * ([[Events.funnel]]): step counts, exact int64 dwell-time sums,
    * and a step-1 timestamp checksum. DuckDB reads TIMESTAMP(NANOS)
    * parquet at MICROsecond precision, so the portable grain here is
    * epoch-micros on BOTH engines (`ts div 1000` / `epoch_us` —
    * nonnegative, so trunc-vs-floor division agrees); comparisons and
    * sums are then exact integers. */
  private val eventsFunnel = Q("q_events_funnel",
    (s, d) => {
      val f = Events.funnel(
        events(s, d).withColumn("ts_us", expr("ts div 1000")),
        "user_id", "ts_us", Seq(
          col("event_type") === "view",
          col("event_type") === "click",
          col("event_type") === "purchase"))
      f.agg(count(lit(1)).as("n_step1"),
        count(col("t2")).as("n_step2"),
        count(col("t3")).as("n_step3"),
        sum(col("t2") - col("t1")).as("d12_us"),
        sum(col("t3") - col("t2")).as("d23_us"),
        sum(col("t1") % lit(TsMod)).as("t1_sum"))
    },
    "WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu " +
      "FROM events), " +
      "s1 AS (SELECT user_id, min(tsu) AS t1 FROM e " +
      "WHERE event_type = 'view' GROUP BY user_id), " +
      "s2 AS (SELECT e.user_id, min(tsu) AS t2 FROM e " +
      "JOIN s1 USING (user_id) WHERE event_type = 'click' AND tsu > t1 " +
      "GROUP BY e.user_id), " +
      "s3 AS (SELECT e.user_id, min(tsu) AS t3 FROM e " +
      "JOIN s2 USING (user_id) WHERE event_type = 'purchase' AND tsu > t2 " +
      "GROUP BY e.user_id), " +
      "f AS (SELECT s1.user_id, t1, t2, t3 FROM s1 " +
      "LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)) " +
      "SELECT count(*) AS n_step1, count(t2) AS n_step2, " +
      "count(t3) AS n_step3, CAST(sum(t2 - t1) AS BIGINT) AS d12_us, " +
      "CAST(sum(t3 - t2) AS BIGINT) AS d23_us, " +
      s"CAST(sum(t1 % $TsMod) AS BIGINT) AS t1_sum FROM f")

  /** One week in MICROseconds (the portable timestamp grain). */
  private val WeekUs = 7L * 24 * 3600 * 1000000L

  /** Weekly cohort retention ([[Events.retention]]): the (cohort,
    * offset) triangle with active-user counts — all exact integer
    * arithmetic at the µs grain on both engines. */
  private val eventsRetention = Q("q_events_retention",
    (s, d) => Events.retention(
      events(s, d).withColumn("ts_us", expr("ts div 1000")),
      "user_id", "ts_us", WeekUs),
    s"WITH act AS (SELECT DISTINCT user_id, epoch_us(ts) // $WeekUs " +
      "AS p FROM events), " +
      "c AS (SELECT user_id, min(p) AS cohort FROM act GROUP BY user_id) " +
      "SELECT c.cohort, act.p - c.cohort AS wk_offset, " +
      "count(*) AS n_active FROM act JOIN c USING (user_id) " +
      "GROUP BY c.cohort, act.p - c.cohort ORDER BY cohort, wk_offset")

  /** Next-event transition matrix: counts + row-normalized
    * probabilities of event_type → next event_type per user stream.
    * The DuckDB side is an independent lead()-window formulation at
    * the shared µs timestamp grain ((user, ts) is unique at µs in
    * this data, so the order — and the matrix — is engine-exact). */
  private val eventsTransitions = Q("q_events_transitions",
    (s, d) => Events.transitions(events(s, d), "user_id", "ts",
        "event_id", "event_type")
      .orderBy("from_type", "to_type"),
    // presence-tagged lead, mirroring Events.transitions: a bare
    // lead(event_type) is null both at end-of-stream AND when the
    // next TYPE is null, so real X -> null transitions would drop
    "WITH o AS (SELECT user_id, event_type, " +
      "lead({'o': 1, 't': event_type}) OVER (PARTITION BY user_id " +
      "ORDER BY epoch_ns(ts), event_id) AS nx FROM events), " +
      "m AS (SELECT event_type AS from_type, nx.t AS to_type, " +
      "count(*) AS n FROM o WHERE nx IS NOT NULL GROUP BY 1, 2) " +
      "SELECT from_type, to_type, n, " +
      "round(n::DOUBLE / (sum(n) OVER (PARTITION BY from_type))::DOUBLE," +
      " 5) AS p FROM m ORDER BY from_type, to_type")

  /** Session-scoped 3-step event paths ("top flows"): every in-session
    * run of 3 consecutive events, counted on the ≤ types³ grain with
    * global shares. The oracle rebuilds sessions + leads at the shared
    * nanosecond grain — counts and shares are engine-exact. */
  private val eventsPaths = Q("q_events_paths",
    (s, d) => Events.eventPaths(events(s, d), "user_id", "ts",
        "event_id", "event_type", 3, SessionGapNanos)
      .orderBy("step1", "step2", "step3"),
    "WITH e AS (SELECT user_id, event_id, event_type, epoch_ns(ts) " +
      "AS tsn FROM events), " +
      "g AS (SELECT user_id, event_id, event_type, tsn, CASE WHEN " +
      "lag(tsn) OVER (PARTITION BY user_id ORDER BY tsn, event_id) IS NULL " +
      "OR tsn - lag(tsn) OVER (PARTITION BY user_id ORDER BY tsn, event_id) " +
      s"> $SessionGapNanos THEN 1 ELSE 0 END AS nw FROM e), " +
      "si AS (SELECT user_id, event_id, event_type, tsn, " +
      "sum(nw) OVER (PARTITION BY user_id ORDER BY tsn, event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
      "AS session_idx FROM g), " +
      "p AS (SELECT event_type AS step1, " +
      "lead(event_type, 1) OVER (PARTITION BY user_id " +
      "ORDER BY tsn, event_id) AS step2, " +
      "lead(event_type, 2) OVER (PARTITION BY user_id " +
      "ORDER BY tsn, event_id) AS step3, session_idx AS s0, " +
      "lead(session_idx, 2) OVER (PARTITION BY user_id " +
      "ORDER BY tsn, event_id) AS s2 FROM si), " +
      "m AS (SELECT step1, step2, step3, count(*) AS n FROM p " +
      "WHERE s2 IS NOT NULL AND s2 = s0 GROUP BY 1, 2, 3) " +
      "SELECT step1, step2, step3, n, " +
      "round(n::DOUBLE / (sum(n) OVER ())::DOUBLE, 5) AS share " +
      "FROM m ORDER BY step1, step2, step3")

  /** Per-key EWMA smoothing + one-step-forecast anomaly flags: the
    * level/residual primitive of telemetry monitoring. The Spark side
    * is the secondary-sort recurrence fold ([[Events.ewma]]); the
    * oracle replays the SAME literal recurrence with DuckDB
    * `list_reduce` over prefix lists (identical operation order ⇒
    * bit-identical doubles), so the anomaly id-checksum pins every
    * per-row flag, not just counts. */
  private val EwmaAlpha = 0.3
  private val AnomResid = 60.0
  private val eventsEwma = Q("q_events_ewma",
    (s, d) => {
      val e = Events.ewma(events(s, d), "user_id", "ts", "event_id",
        "value", EwmaAlpha)
      val resid = abs(col("value") - col("forecast"))
      e.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(avg(col("ewma")), 5).as("avg_ewma"),
          sum(when(col("forecast").isNull, 1L).otherwise(0L))
            .as("n_first"),
          round(avg(when(col("forecast").isNotNull, resid)), 5)
            .as("avg_resid"),
          sum(when(col("forecast").isNotNull && resid > AnomResid, 1L)
            .otherwise(0L)).as("n_anom"),
          sum(when(col("forecast").isNotNull && resid > AnomResid,
            col("event_id")).otherwise(0L)).as("anom_ids"))
        .orderBy("event_type")
    },
    // null metric rows are excluded BEFORE the recurrence, like
    // Events.ewma's isNotNull normalization — a null folded through
    // the prefix lambda would poison every later level
    "WITH l AS (SELECT event_id, user_id, event_type, value, " +
      "list(value) OVER (PARTITION BY user_id " +
      "ORDER BY epoch_ns(ts), event_id ROWS UNBOUNDED PRECEDING) " +
      "AS pfx FROM events WHERE value IS NOT NULL), " +
      "e AS (SELECT event_id, event_type, value, " +
      s"list_reduce(pfx, (acc, x) -> $EwmaAlpha * x + " +
      s"(1.0 - $EwmaAlpha) * acc) AS ewma, " +
      "CASE WHEN len(pfx) > 1 THEN list_reduce(pfx[1:len(pfx)-1], " +
      s"(acc, x) -> $EwmaAlpha * x + (1.0 - $EwmaAlpha) * acc) " +
      "END AS fc FROM l) " +
      "SELECT event_type, count(*) AS n, " +
      "round(avg(ewma), 5) AS avg_ewma, " +
      "CAST(sum(CASE WHEN fc IS NULL THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_first, " +
      "round(avg(CASE WHEN fc IS NOT NULL THEN abs(value - fc) END), 5) " +
      "AS avg_resid, " +
      "CAST(sum(CASE WHEN fc IS NOT NULL AND abs(value - fc) > " +
      s"$AnomResid THEN 1 ELSE 0 END) AS BIGINT) AS n_anom, " +
      "CAST(sum(CASE WHEN fc IS NOT NULL AND abs(value - fc) > " +
      s"$AnomResid THEN event_id ELSE 0 END) AS BIGINT) AS anom_ids " +
      "FROM e GROUP BY event_type ORDER BY event_type")

  /** Per-key CUSUM drift detection ([[Events.cusum]]): one-sided
    * cumulative sums flag sustained level shifts that per-event
    * residuals miss. The oracle replays the same literal clamped
    * recurrence with a STRUCT-accumulator `list_reduce` (each prefix
    * element carries its own first-step state, so DuckDB's
    * first-element-as-init convention IS the (0,0) start) —
    * bit-identical doubles, alarms pinned by id checksum. */
  private val CusumTarget = 50.0
  private val CusumSlack = 25.0
  private val CusumH = 300.0
  private val eventsCusum = Q("q_events_cusum",
    (s, d) => {
      val c = Events.cusum(events(s, d), "user_id", "ts", "event_id",
        "value", CusumTarget, CusumSlack)
      val alarm = col("cusum_hi") > CusumH || col("cusum_lo") > CusumH
      c.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(avg(col("cusum_hi")), 5).as("avg_hi"),
          round(avg(col("cusum_lo")), 5).as("avg_lo"),
          sum(when(alarm, 1L).otherwise(0L)).as("n_alarm"),
          sum(when(alarm, col("event_id")).otherwise(0L)).as("alarm_ids"))
        .orderBy("event_type")
    },
    // same null-metric exclusion as Events.cusum's normalization
    "WITH l AS (SELECT event_id, user_id, event_type, value, " +
      "list(value) OVER (PARTITION BY user_id " +
      "ORDER BY epoch_ns(ts), event_id ROWS UNBOUNDED PRECEDING) " +
      "AS pfx FROM events WHERE value IS NOT NULL), " +
      "c AS (SELECT event_id, event_type, " +
      s"list_reduce([{'x': x, 'hi': greatest(0.0, x - $CusumTarget - " +
      s"$CusumSlack), 'lo': greatest(0.0, $CusumTarget - $CusumSlack - x)} " +
      "for x in pfx], (acc, e) -> {'x': e.x, " +
      s"'hi': greatest(0.0, acc.hi + (e.x - $CusumTarget - $CusumSlack)), " +
      s"'lo': greatest(0.0, acc.lo + ($CusumTarget - $CusumSlack - e.x))}) " +
      "AS st FROM l) " +
      "SELECT event_type, count(*) AS n, " +
      "round(avg(st.hi), 5) AS avg_hi, " +
      "round(avg(st.lo), 5) AS avg_lo, " +
      s"CAST(sum(CASE WHEN st.hi > $CusumH OR st.lo > $CusumH " +
      "THEN 1 ELSE 0 END) AS BIGINT) AS n_alarm, " +
      s"CAST(sum(CASE WHEN st.hi > $CusumH OR st.lo > $CusumH " +
      "THEN event_id ELSE 0 END) AS BIGINT) AS alarm_ids " +
      "FROM c GROUP BY event_type ORDER BY event_type")

  /** Exponentially time-decayed event mass ([[Events.decayedMass]]):
    * recency weighting with τ = 1 day against the corpus max
    * timestamp, exact under distribution because each weight is
    * floored to int64 fixed point before the (order-independent)
    * sum. µs grain on both engines (the shared exact precision for
    * parquet NANO timestamps). */
  private val DecayTauMicros = 86400000000.0
  private val eventsDecayed = Q("q_events_decayed",
    (s, d) => {
      val ev = events(s, d).withColumn("__tsu", expr("ts div 1000"))
      val ref = ev.agg(max(col("__tsu")).as("__ref"))
      Events.decayedMass(ev.crossJoin(ref), col("__tsu"),
          Seq("event_type"), col("__ref"), DecayTauMicros)
        .orderBy("event_type")
    },
    "WITH r AS (SELECT max(epoch_us(ts)) AS ref FROM events), " +
      "w AS (SELECT event_type, " +
      "floor(exp(-(CAST(r.ref - epoch_us(ts) AS DOUBLE) / " +
      s"$DecayTauMicros)) * ${graft.ops.Stats.FxScale}.0) AS fp " +
      "FROM events CROSS JOIN r) " +
      "SELECT event_type, count(*) AS n, " +
      "CAST(sum(CAST(fp AS BIGINT)) AS BIGINT) AS decayed_fp " +
      "FROM w GROUP BY event_type ORDER BY event_type")

  /** Per-type inter-arrival quantiles (burstiness / cadence data
    * card — the "is this stream steady or spiky" diagnostic that
    * sizes watermarks and session gaps): consecutive per-user gaps
    * from ONE exchange + sort on the high-cardinality key (the
    * sessionize window shape), then the PORTABLE histogram quantile
    * sketch per event type — integer ms gaps into integer registers,
    * interpolated p50/p90 identical cross-engine. Two verified
    * operators composing; nothing new to trust. */
  private val InterarrivalHiMs = 86400000.0
  private val eventsInterarrival = Q("q_events_interarrival",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val gaps = events(s, d)
        .withColumn("__prev", lag(col("ts"), 1).over(w))
        .where(col("__prev").isNotNull)
        .select(col("event_type"),
          expr("(ts - __prev) div 1000000").as("gap_ms"))
      graft.ops.Sketches.histogramQuantilesBy(gaps, col("event_type"),
          col("gap_ms").cast("double"), lo = 0.0, hi = InterarrivalHiMs,
          nBuckets = 64, qs = Seq(0.5, 0.9))
        .select(col("grp").as("event_type"), col("n"), col("p50"),
          col("p90"))
        .orderBy("event_type")
    }, {
      import graft.ops.Sketches.{BucketSql, QuantileSql}
      "WITH e AS (SELECT event_id, user_id, event_type, " +
        "epoch_ns(ts) AS tsn FROM events), " +
        "g0 AS (SELECT event_type, tsn - lag(tsn) OVER " +
        "(PARTITION BY user_id ORDER BY tsn, event_id) AS gap_ns " +
        "FROM e), " +
        "g AS (SELECT event_type, CAST(gap_ns // 1000000 AS BIGINT) " +
        "AS gap_ms FROM g0 WHERE gap_ns IS NOT NULL), " +
        "h AS (SELECT event_type, " +
        s"${BucketSql("gap_ms", 0.0, InterarrivalHiMs, 64)} AS b FROM g), " +
        "hist AS (SELECT event_type, b, count(*) AS cnt " +
        "FROM h GROUP BY 1, 2), " +
        "c AS (SELECT event_type, b, cnt, sum(cnt) OVER " +
        "(PARTITION BY event_type ORDER BY b ROWS BETWEEN UNBOUNDED " +
        "PRECEDING AND CURRENT ROW) AS cum, " +
        "sum(cnt) OVER (PARTITION BY event_type) AS n FROM hist) " +
        "SELECT event_type, CAST(max(n) AS BIGINT) AS n, " +
        s"${QuantileSql(0.5, 0.0, InterarrivalHiMs, 64)} AS p50, " +
        s"${QuantileSql(0.9, 0.0, InterarrivalHiMs, 64)} AS p90 " +
        "FROM c GROUP BY event_type ORDER BY event_type"
    })

  /** Hour-of-day seasonal decomposition + 3σ residual anomaly cells
    * ([[Events.seasonalAnomalies]]): per type, the cell count, the
    * anomalous-cell count, the seasonal amplitude (peak-hour minus
    * trough-hour mean), and the anomalous cells' (day·24+hour)
    * checksum. Every sum the test depends on is exact int64 (values
    * quantized to µ-units at the event grain; squared residuals
    * floor-quantized before summing), so the 3σ comparison is pure
    * integer arithmetic — no order-dependent double anywhere. */
  private val eventsSeasonal = Q("q_events_seasonal",
    (s, d) => Events.seasonalAnomalies(events(s, d), "event_type",
        "ts", "value")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_cells"),
        sum(when(col("anom"), 1L).otherwise(0L)).as("n_anom"),
        round((max(col("seas_mean")) - min(col("seas_mean")))
          / lit(1000000.0), 5).as("amplitude"),
        sum(when(col("anom"), col("day") * 24 + col("hour"))
          .otherwise(0L)).as("anom_ck"))
      .orderBy("event_type"),
    "WITH e AS (SELECT event_type, epoch_ns(ts) AS tsn, " +
      "CAST(floor(value * 1000000.0) AS BIGINT) AS vfx " +
      "FROM events WHERE value IS NOT NULL), " +
      "cells AS (SELECT event_type, tsn // 86400000000000 AS day, " +
      "(tsn // 3600000000000) % 24 AS hour, " +
      "count(*) AS cnt, sum(vfx) AS sfx FROM e GROUP BY 1, 2, 3), " +
      "seas AS (SELECT event_type, hour, sum(cnt) AS scnt, " +
      "sum(sfx) AS ssfx FROM cells GROUP BY 1, 2), " +
      "r AS (SELECT c.event_type, c.day, c.hour, " +
      "CAST(c.sfx AS DOUBLE) / c.cnt AS cm, " +
      "CAST(s.ssfx AS DOUBLE) / s.scnt AS sm " +
      "FROM cells c JOIN seas s USING (event_type, hour)), " +
      "r2 AS (SELECT *, CAST(floor(((cm - sm) / 1000000.0) * " +
      "((cm - sm) / 1000000.0) * 1000000.0) AS BIGINT) AS r2fx " +
      "FROM r), " +
      "dd AS (SELECT event_type, count(*) AS n_cells, " +
      "sum(r2fx) AS sr2 FROM r2 GROUP BY 1) " +
      "SELECT r2.event_type, max(dd.n_cells) AS n_cells, " +
      "CAST(sum(CASE WHEN r2.r2fx * dd.n_cells > 9 * dd.sr2 " +
      "THEN 1 ELSE 0 END) AS BIGINT) AS n_anom, " +
      "round((max(r2.sm) - min(r2.sm)) / 1000000.0, 5) AS amplitude, " +
      "CAST(sum(CASE WHEN r2.r2fx * dd.n_cells > 9 * dd.sr2 " +
      "THEN r2.day * 24 + r2.hour ELSE 0 END) AS BIGINT) AS anom_ck " +
      "FROM r2 JOIN dd USING (event_type) GROUP BY 1 ORDER BY 1")

  /** Per-(event_type, day-window) interpolated value quantiles from
    * grouped equi-width histograms — the rolling latency/value
    * percentile board. The sketch state per window is ≤ nBuckets
    * registers whatever the window population (the
    * [[graft.ops.Sketches.histogramQuantilesBy]] shape: no per-window
    * sort, no collect_list), so the op survives windows of any size;
    * the final rollup runs on the window grain. p50/p90 are the same
    * pure-IEEE interpolation formula on both engines. */
  private val eventsRollQuantile = Q("q_events_rollquantile",
    (s, d) => {
      val base = events(s, d).select(col("event_type"),
        expr(s"ts div $DayNanos").as("widx"),
        col("value"))
      graft.ops.Sketches.histogramQuantilesBy(base,
          struct(col("event_type"), col("widx")), col("value"),
          lo = 0.0, hi = 512.0, nBuckets = 64, qs = Seq(0.5, 0.9))
        .select(col("grp.event_type").as("event_type"),
          col("grp.widx").as("widx"), col("n"), col("p50"), col("p90"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_windows"),
          sum(col("n")).as("n_events"),
          round(avg(col("p50")), 5).as("avg_p50"),
          round(max(col("p90")), 5).as("max_p90"),
          sum(col("widx") * col("n")).as("widx_ck"))
        .orderBy("event_type")
    }, {
      import graft.ops.Sketches.{BucketSql, QuantileSql}
      s"WITH h AS (SELECT event_type, epoch_ns(ts) // $DayNanos AS widx, " +
        s"${BucketSql("value", 0.0, 512.0, 64)} AS b FROM events), " +
        "hist AS (SELECT event_type, widx, b, count(*) AS cnt FROM h " +
        "GROUP BY 1, 2, 3), " +
        "c AS (SELECT event_type, widx, b, cnt, sum(cnt) OVER " +
        "(PARTITION BY event_type, widx ORDER BY b ROWS BETWEEN " +
        "UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
        "sum(cnt) OVER (PARTITION BY event_type, widx) AS n FROM hist), " +
        "w AS (SELECT event_type, widx, CAST(max(n) AS BIGINT) AS n, " +
        s"${QuantileSql(0.5, 0.0, 512.0, 64)} AS p50, " +
        s"${QuantileSql(0.9, 0.0, 512.0, 64)} AS p90 " +
        "FROM c GROUP BY event_type, widx) " +
        "SELECT event_type, count(*) AS n_windows, " +
        "CAST(sum(n) AS BIGINT) AS n_events, " +
        "round(avg(p50), 5) AS avg_p50, round(max(p90), 5) AS max_p90, " +
        "CAST(sum(widx * n) AS BIGINT) AS widx_ck " +
        "FROM w GROUP BY event_type ORDER BY event_type"
    })

  /** Experiment-window midpoint (the 30-day fixture splits into a
    * pre-period covariate window and a post-period metric window),
    * in epoch-nanos. */
  private val CupedMidNanos: Long = java.time.LocalDateTime
    .of(2024, 1, 16, 0, 0, 0)
    .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000000L

  /** CUPED variance reduction (Deng et al., WSDM 2013 — the standard
    * A/B-test sensitivity boost): users hash-split into two arms, the
    * PRE-period spend total is the covariate X for the POST-period
    * metric Y, θ = cov(X,Y)/var(X) fitted on all users, and each
    * arm's adjusted mean is mean(Y) − θ·(mean(X) − mean(X)_global).
    * Exactness discipline: per-user X/Y are integer cents totals
    * (exact hash-agg sums), the cross-moments Σx/Σy/Σx²/Σxy/Σy² are
    * exact int64 on the user grain, and every downstream double (θ,
    * adjusted means, the ρ² variance-reduction factor) is a CLOSED
    * FORM over those integer sums — no double ever sums across rows,
    * so both engines agree bit-for-bit. Scale shape: two map-side-
    * combined hash aggregates (events → users → moments), the moment
    * row broadcast back to the arm grain. */
  private val eventsCuped = Q("q_events_cuped",
    (s, d) => {
      val ev = events(s, d)
      val users = ev.groupBy(col("user_id"),
          pmod(TextAnalysis.tokenHash(
            concat(col("user_id").cast("string"), lit("#ab"))),
            lit(2L)).as("arm"))
        .agg(sum(when(col("ts") < CupedMidNanos,
            round(col("value") * 100).cast("long")).otherwise(0L))
          .as("x"),
          sum(when(col("ts") >= CupedMidNanos,
            round(col("value") * 100).cast("long")).otherwise(0L))
          .as("y"))
      val mom = users.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
      val nD = col("n").cast("double")
      val theta = (nD * col("sxy") - col("sx") * col("sy")) /
        (nD * col("sxx") - col("sx") * col("sx"))
      val varred = (nD * col("sxy") - col("sx") * col("sy")) *
        (nD * col("sxy") - col("sx") * col("sy")) /
        ((nD * col("sxx") - col("sx") * col("sx")) *
          (nD * col("syy") - col("sy") * col("sy")))
      val glob = mom.select(theta.as("theta"), varred.as("varred"),
        (col("sx").cast("double") / nD).as("mx_g"))
      users.groupBy("arm")
        .agg(count(lit(1)).as("n_users"),
          sum(col("x")).as("ax"), sum(col("y")).as("ay"))
        .crossJoin(broadcast(glob))
        .select(col("arm"), col("n_users"),
          round(col("ay").cast("double") /
            col("n_users").cast("double") / 100.0, 5).as("mean_y"),
          round((col("ay").cast("double") /
            col("n_users").cast("double") -
            col("theta") * (col("ax").cast("double") /
              col("n_users").cast("double") - col("mx_g"))) / 100.0, 5)
            .as("mean_cuped"),
          round(col("theta"), 5).as("theta"),
          round(col("varred"), 5).as("var_reduction"))
        .orderBy("arm")
    },
    "WITH u AS (SELECT user_id, " +
      s"${TextAnalysis.TokenHashSql(
        "CAST(user_id AS VARCHAR) || '#ab'")} % 2 AS arm, " +
      "CAST(sum(CASE WHEN epoch_ns(ts) < " + CupedMidNanos +
      " THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) " +
      "AS x, " +
      "CAST(sum(CASE WHEN epoch_ns(ts) >= " + CupedMidNanos +
      " THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) " +
      "AS y FROM events GROUP BY 1, 2), " +
      "m AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx, " +
      "CAST(sum(y) AS BIGINT) AS sy, " +
      "CAST(sum(x * x) AS BIGINT) AS sxx, " +
      "CAST(sum(x * y) AS BIGINT) AS sxy, " +
      "CAST(sum(y * y) AS BIGINT) AS syy FROM u), " +
      "g AS (SELECT (CAST(n AS DOUBLE) * sxy - " +
      "CAST(sx AS DOUBLE) * sy) / (CAST(n AS DOUBLE) * sxx - " +
      "CAST(sx AS DOUBLE) * sx) AS theta, " +
      "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) * " +
      "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) / " +
      "((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * " +
      "(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)) AS varred, " +
      "CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mx_g FROM m) " +
      "SELECT arm, count(*) AS n_users, " +
      "round(CAST(sum(y) AS DOUBLE) / count(*) / 100.0, 5) AS mean_y, " +
      "round((CAST(sum(y) AS DOUBLE) / count(*) - g.theta * " +
      "(CAST(sum(x) AS DOUBLE) / count(*) - g.mx_g)) / 100.0, 5) " +
      "AS mean_cuped, " +
      "round(max(g.theta), 5) AS theta, " +
      "round(max(g.varred), 5) AS var_reduction " +
      "FROM u CROSS JOIN g GROUP BY arm, g.theta, g.mx_g " +
      "ORDER BY arm")

  /** Fixed point for the SRM chi-square (2²⁰, the q_stats_chisq
    * discipline — no transcendental anywhere, so the sums are exact
    * without even a guard band). */
  private val SrmFx = 1048576.0

  /** Sample-ratio-mismatch gate (the production A/B sanity check —
    * Fabijan et al. 2019 report ~6% of experiments fail it): the
    * same deterministic arm hash as q_events_cuped, a 50/50 expected
    * split, and the one-degree chi-square statistic
    * Σ (observed − expected)²/expected over the two arms — plus the
    * per-arm event and user tallies a triage reads first. A biased
    * assignment hash, a lost logging pipeline, or a filter applied
    * after randomization all surface here before any metric is
    * trusted. Integer counts end to end; the statistic is a closed
    * form over them, fixed-point quantized (no ln — exact without a
    * guard band). One map-side-combined aggregate. */
  private val eventsSrm = Q("q_events_srm",
    (s, d) => {
      val ev = events(s, d).select(col("user_id"),
        pmod(TextAnalysis.tokenHash(
          concat(col("user_id").cast("string"), lit("#ab"))),
          lit(2L)).as("arm"))
      val arms = ev.groupBy("arm")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
      val tot = arms.agg(sum(col("n_users")).as("nu"),
        sum(when(col("arm") === 0, col("n_users")).otherwise(0L))
          .as("n0"))
      arms.crossJoin(broadcast(tot))
        .select(col("arm"), col("n_events"), col("n_users"),
          round((col("n0").cast("double") / col("nu").cast("double")),
            5).as("arm0_share"),
          round(floor(
            ((col("n0").cast("double") - col("nu").cast("double") / 2.0)
              * (col("n0").cast("double") - col("nu").cast("double")
                / 2.0) * 4.0 / col("nu").cast("double")) * lit(SrmFx)
              + lit(0.5)).cast("long").cast("double") / lit(SrmFx), 5)
            .as("srm_chisq"))
        .orderBy("arm")
    },
    "WITH e AS (SELECT user_id, " +
      s"${TextAnalysis.TokenHashSql(
        "CAST(user_id AS VARCHAR) || '#ab'")} % 2 AS arm FROM events), " +
      "a AS (SELECT arm, count(*) AS n_events, " +
      "count(DISTINCT user_id) AS n_users FROM e GROUP BY arm), " +
      "t AS (SELECT CAST(sum(n_users) AS BIGINT) AS nu, " +
      "CAST(sum(CASE WHEN arm = 0 THEN n_users ELSE 0 END) AS BIGINT) " +
      "AS n0 FROM a) " +
      "SELECT arm, n_events, n_users, " +
      "round(CAST(n0 AS DOUBLE) / CAST(nu AS DOUBLE), 5) AS arm0_share, " +
      "round(CAST(CAST(floor(((CAST(n0 AS DOUBLE) - " +
      "CAST(nu AS DOUBLE) / 2.0) * (CAST(n0 AS DOUBLE) - " +
      "CAST(nu AS DOUBLE) / 2.0) * 4.0 / CAST(nu AS DOUBLE)) * " +
      s"$SrmFx + 0.5) AS BIGINT) AS DOUBLE) / $SrmFx, 5) AS srm_chisq " +
      "FROM a CROSS JOIN t ORDER BY arm")

  /** Two-sided z-quantiles for α = .05 / power = .80, as shared
    * LITERALS (both engines consume the same decimal text, so the
    * closed forms below are bit-identical; the constants are the
    * textbook 1.959964/0.841621). */
  private val ZAlpha = "1.959964"
  private val ZBeta = "0.841621"

  /** Minimum detectable effect / power sizing for the experiment
    * family (the third leg beside q_events_cuped and q_events_srm):
    * with the post-period metric's user-grain variance from exact
    * int64 moment sums, the classic two-sample MDE at α=.05,
    * power=.80 is (z_α/2 + z_β)·√(2·var/n̄) with n̄ the per-arm user
    * count — reported absolute (cents → currency) and relative to
    * the metric mean, plus the n required to detect a 1% lift. Every
    * double is a closed form over exact integer sums (the CUPED
    * discipline): sqrt of a deterministic double is deterministic,
    * nothing sums doubles across rows. One user aggregate + one
    * moment row. */
  private val eventsPower = Q("q_events_power",
    (s, d) => {
      val ev = events(s, d)
      val users = ev.groupBy(col("user_id"),
          pmod(TextAnalysis.tokenHash(
            concat(col("user_id").cast("string"), lit("#ab"))),
            lit(2L)).as("arm"))
        .agg(sum(when(col("ts") >= CupedMidNanos,
            round(col("value") * 100).cast("long")).otherwise(0L))
          .as("y"))
      val mom = users.agg(count(lit(1)).as("n"),
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(col("y")).as("sy"),
        sum(col("y") * col("y")).as("syy"))
      val nD = col("n").cast("double")
      val meanY = col("sy").cast("double") / nD
      val varY = (nD * col("syy").cast("double") -
        col("sy").cast("double") * col("sy").cast("double")) /
        (nD * (nD - 1.0))
      val zSum = expr(s"$ZAlpha + $ZBeta")
      val perArm = nD / 2.0
      val mde = zSum * sqrt(lit(2.0) * varY / perArm)
      val nFor1Pct = lit(2.0) * zSum * zSum * varY /
        ((meanY * lit(0.01)) * (meanY * lit(0.01)))
      mom.select(col("n").as("n_users"), col("n0").as("n_arm0"),
        round(meanY / 100.0, 5).as("mean_y"),
        round(sqrt(varY) / 100.0, 5).as("sd_y"),
        round(mde / 100.0, 5).as("mde_abs"),
        round(mde / meanY, 5).as("mde_rel"),
        ceil(nFor1Pct).cast("long").as("n_per_arm_for_1pct"))
    },
    "WITH u AS (SELECT user_id, " +
      s"${TextAnalysis.TokenHashSql(
        "CAST(user_id AS VARCHAR) || '#ab'")} % 2 AS arm, " +
      "CAST(sum(CASE WHEN epoch_ns(ts) >= " + CupedMidNanos +
      " THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) " +
      "AS y FROM events GROUP BY 1, 2), " +
      "m AS (SELECT count(*) AS n, " +
      "CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0, " +
      "CAST(sum(y) AS BIGINT) AS sy, " +
      "CAST(sum(y * y) AS BIGINT) AS syy FROM u), " +
      "f AS (SELECT n, n0, " +
      "CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS mean_y, " +
      "(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) / " +
      "(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS var_y " +
      "FROM m) " +
      "SELECT n AS n_users, n0 AS n_arm0, " +
      "round(mean_y / 100.0, 5) AS mean_y, " +
      "round(sqrt(var_y) / 100.0, 5) AS sd_y, " +
      s"round(($ZAlpha + $ZBeta) * " +
      "sqrt(2.0 * var_y / (CAST(n AS DOUBLE) / 2.0)) / 100.0, 5) " +
      "AS mde_abs, " +
      s"round(($ZAlpha + $ZBeta) * " +
      "sqrt(2.0 * var_y / (CAST(n AS DOUBLE) / 2.0)) / mean_y, 5) " +
      "AS mde_rel, " +
      s"CAST(ceil(2.0 * ($ZAlpha + $ZBeta) * ($ZAlpha + $ZBeta) * " +
      "var_y / ((mean_y * 0.01) * (mean_y * 0.01))) AS BIGINT) " +
      "AS n_per_arm_for_1pct FROM f")

  val all: Seq[Q] = Seq(eventsAsof, eventsSessionize, eventsProps,
    eventsRange, eventsZorder, eventsHilbert, eventsWindow, eventsFunnel,
    eventsRetention, eventsTransitions, eventsEwma, eventsCusum,
    eventsDecayed, eventsPaths, eventsInterarrival, eventsSeasonal,
    eventsRollQuantile, eventsCuped, eventsSrm, eventsPower)
}
