"""Event-stream queries: analytic windows, sessionization, time windows,
as-of join, JSON extraction (SURVEY.md §2.6 W3, §2.10 X6/X8, EXT-J6, §2.8).

All of these are the batch (DuckDB-checkable) forms; the Structured
Streaming twins live in ``streaming_q`` / ``hg_data_pipelines_spark.streaming``.

Epoch arithmetic uses microseconds (``unix_micros`` ↔ DuckDB ``epoch_us``)
under a pinned UTC session so NTZ→instant conversion is host-independent.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.asof import asof_join
from ..session import cut_lineage
from .common import dsum, load, query, sql_dsum


def _epoch_us(col):
    """Microseconds since epoch for a TIMESTAMP_NTZ column (UTC session)."""
    return F.unix_micros(F.col(col).cast("timestamp"))


# --------------------------------------------------------------------------
# EXT-W3: lag / lead / running sum per user. Running sum accumulates in
# exact decimal — double running sums are association-order dependent and
# DuckDB computes windows with a segment tree, not left-to-right.
# --------------------------------------------------------------------------


@query(
    "W3_lag_lead_running_sum",
    """
    SELECT event_id, user_id, ts,
           lag(value) OVER w AS prev_value,
           lead(event_id) OVER w AS next_event_id,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS running_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def lag_lead_running_sum(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("event_id").over(w).alias("next_event_id"),
        F.sum(F.col("value").cast("decimal(38,6)"))
        .over(wsum)
        .cast("double")
        .alias("running_value"),
    )


# --------------------------------------------------------------------------
# EXT-J6: as-of join — each event picks up the user's most recent order.
# The right side is pre-deduplicated to one row per (custkey, orderdate)
# (max orderkey) so the pick is total-order deterministic; DuckDB's native
# ASOF JOIN is the oracle.
# --------------------------------------------------------------------------


@query(
    "J6_asof_latest_order",
    """
    SELECT e.event_id, e.user_id, e.ts, o.o_orderkey AS asof_o_orderkey
    FROM events e
    ASOF LEFT JOIN (
        SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
        FROM orders GROUP BY 1, 2
    ) o ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
)
def asof_latest_order(spark, sf_dir):
    ev, orders = load(spark, sf_dir, "events", "orders")
    orders_d = orders.groupBy("o_custkey", "o_orderdate").agg(
        F.max("o_orderkey").alias("o_orderkey")
    )
    return asof_join(
        ev,
        orders_d,
        left_on="user_id",
        right_on="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        value_cols=["o_orderkey"],
        left_cols=["event_id", "user_id", "ts"],
    )


# --------------------------------------------------------------------------
# X6: tumbling time-window aggregation (batch form of the streaming window).
# F.window buckets are epoch-aligned; DuckDB time_bucket likewise
# (1970→2000 origins differ by a whole number of 5-minute buckets).
# --------------------------------------------------------------------------


@query(
    "X6_tumbling_window_agg",
    f"""
    SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
           event_type, COUNT(*) AS n, {sql_dsum('value', 'sum_value')}
    FROM events GROUP BY 1, 2
    """,
)
def tumbling_window_agg(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "sum_value"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "sum_value"
        )
    )


@query(
    "X6_sliding_window_agg",
    f"""
    WITH assigned AS (
        SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start, value
        FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes', value
        FROM events
    )
    SELECT window_start, COUNT(*) AS n, {sql_dsum('value', 'sum_value')}
    FROM assigned GROUP BY 1
    """,
)
def sliding_window_agg(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "sum_value"))
        .select(F.col("w.start").alias("window_start"), "n", "sum_value")
    )


# --------------------------------------------------------------------------
# X8: sessionization, two forms.
# (a) lag-based: gap > 30 min starts a new session (classic two-window pass,
#     DuckDB-checkable 1:1).
# (b) F.session_window: Spark's native merging session windows; oracle is
#     the lag-based SQL aggregated to the same shape (start = min ts,
#     end = max ts + gap — session_window's half-open end semantics).
# --------------------------------------------------------------------------

# Strict '>' on the gap is correct for BOTH X8 variants: the lag-based
# query uses '>' explicitly, and Spark's session_window MERGES touching
# windows — an event at exactly last_ts + gap lands on the previous
# window's end boundary and joins that session (verified empirically in
# tests/test_events.py against Spark 4.1; were the end exclusive, this
# oracle would need '>=').
_SESSIONIZE_SQL = """
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL THEN 1
                    WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1
                    ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
        SELECT user_id, ts, event_id,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_id
        FROM flagged
    )
"""


@query(
    "X8_sessionization_lag",
    _SESSIONIZE_SQL
    + """
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           COUNT(*) AS n_events, MIN(ts) AS session_start, MAX(ts) AS session_end
    FROM numbered GROUP BY 1, 2
    """,
)
def sessionization_lag(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_us = 30 * 60 * 1_000_000
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.lag("ts").over(w).isNull(), 1)
        .when(_epoch_us("ts") - F.unix_micros(F.lag("ts").over(w).cast("timestamp")) > gap_us, 1)
        .otherwise(0)
        .alias("new_session"),
    )
    numbered = flagged.withColumn(
        "session_id", F.sum("new_session").over(wrun).cast("long")
    )
    return numbered.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@query(
    "X8_session_window_agg",
    _SESSIONIZE_SQL
    + """
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, session_id
    """,
)
def session_window_agg(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


# --------------------------------------------------------------------------
# §2.8 JSON: get_json_object / from_json over the props JSON column
# (the N1 nested-data pattern applied to a string payload).
# --------------------------------------------------------------------------


# --------------------------------------------------------------------------
# EXT-W4: time-RANGE rolling aggregate — each event's trailing-1-hour sum
# per user. RANGE frames on the epoch axis include every row inside the
# interval regardless of row position, so no tiebreak is needed for a
# commutative aggregate; the sum accumulates in exact decimal.
# --------------------------------------------------------------------------


@query(
    "W4_time_range_rolling",
    """
    SELECT event_id, user_id, ts,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS rolling_1h_sum,
           COUNT(*) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
           ) AS rolling_1h_n
    FROM events
    """,
)
def time_range_rolling(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(_epoch_us("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.sum(F.col("value").cast("decimal(38,6)"))
        .over(w)
        .cast("double")
        .alias("rolling_1h_sum"),
        F.count(F.lit(1)).over(w).alias("rolling_1h_n"),
    )


# --------------------------------------------------------------------------
# X6: gap-filled hourly series — generate each user's hour spine between
# their first and last event, left-join hourly aggregates, forward-fill
# the running metric into empty hours. The resample/interpolate op time-
# series pipelines need; spine generation is row-local (sequence+explode),
# the join shuffles on (user, hour) only.
# --------------------------------------------------------------------------


@query(
    "X6_gap_fill_hourly",
    """
    WITH bounds AS (
        SELECT user_id,
               date_trunc('hour', MIN(ts)) AS h0,
               date_trunc('hour', MAX(ts)) AS h1
        FROM events WHERE user_id < 20 GROUP BY user_id
    ),
    spine AS (
        SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
        FROM bounds
    ),
    hourly AS (
        SELECT user_id, date_trunc('hour', ts) AS hour,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS hour_sum
        FROM events WHERE user_id < 20 GROUP BY 1, 2
    )
    SELECT s.user_id, s.hour,
           COALESCE(h.n_events, 0) AS n_events,
           last_value(h.hour_sum IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_sum
    FROM spine s LEFT JOIN hourly h
      ON s.user_id = h.user_id AND s.hour = h.hour
    """,
)
def gap_fill_hourly(spark, sf_dir):
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    bounds = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    spine = bounds.select(
        "user_id",
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour"),
    )
    hourly = (
        ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("hour"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)"))
            .cast("double")
            .alias("hour_sum"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(hourly, ["user_id", "hour"], "left")
        .select(
            "user_id",
            F.col("hour").cast("timestamp_ntz").alias("hour"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.last("hour_sum", ignorenulls=True).over(w).alias("filled_sum"),
        )
    )


@query(
    "N_json_extract",
    f"""
    SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
           COUNT(*) AS n, {sql_dsum('value', 'sum_value')}
    FROM events GROUP BY 1
    """,
)
def json_extract(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return (
        ev.select(
            F.get_json_object("props", "$.k").cast("int").alias("k"), "value"
        )
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "sum_value"))
    )


# --------------------------------------------------------------------------
# EXT-J7: interval (range) join — for each purchase event, count and sum
# the same user's follow-up events inside the next 12 hours (half-open
# (ts, ts + 12h]). A genuine theta/range join, NOT a window: the
# follow-up rows are a different row set per anchor.
#
# Scale shape: the equi component (same user_id) drives a plain hash/
# sort-merge join — ONE shuffle on the user key — and the time range is a
# residual predicate on the matched pairs, so cost is per-user pair
# count, never a cross join. Without an equi key the scale path is
# bucketing both sides to a common time grain and equi-joining on
# (bucket ± 1), which bounds candidates the same way LSH bounds X2.
# --------------------------------------------------------------------------


@query(
    "J7_interval_join_followups",
    f"""
    SELECT a.event_id,
           a.user_id,
           COUNT(b.event_id) AS n_followups,
           {sql_dsum('b.value', 'followup_value')}
    FROM events a
    LEFT JOIN events b
      ON b.user_id = a.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL 12 HOUR
    WHERE a.event_type = 'purchase'
    GROUP BY a.event_id, a.user_id
    """,
)
def interval_join_followups(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    anchors = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    others = ev.select(
        F.col("user_id").alias("b_user_id"),
        F.col("ts").alias("b_ts"),
        F.col("event_id").alias("b_event_id"),
        F.col("value").alias("b_value"),
    )
    joined = anchors.join(
        others,
        (F.col("b_user_id") == F.col("user_id"))
        & (F.col("b_ts") > F.col("ts"))
        & (F.col("b_ts") <= F.col("ts") + F.expr("INTERVAL 12 HOUR")),
        "left",
    )
    return joined.groupBy("event_id", "user_id").agg(
        F.count("b_event_id").alias("n_followups"),
        dsum("b_value", "followup_value"),
    )


# --------------------------------------------------------------------------
# X12: product-analytics staples over the event log — weekly cohort
# retention and ordered funnel conversion. Both are exact integer/timestamp
# arithmetic end-to-end (week truncation, day diffs, counts), so the
# oracles hash-match with no float discipline needed.
# --------------------------------------------------------------------------


@query(
    "X12_cohort_retention",
    """
    WITH firsts AS (
        SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
        FROM events GROUP BY user_id
    ), activity AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS active_week
        FROM events
    )
    SELECT f.cohort_week,
           date_diff('day', f.cohort_week, a.active_week) // 7 AS week_offset,
           COUNT(*) AS n_users
    FROM firsts f JOIN activity a USING (user_id)
    GROUP BY 1, 2
    """,
)
def cohort_retention(spark, sf_dir):
    """Weekly retention triangle: users grouped by first-seen week, counted
    in each subsequent active week. Two aggregations plus one join on
    user_id; the firsts table is |users|-sized (broadcastable at scale)."""
    ev = load(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("active_week")
    ).distinct()
    return (
        firsts.join(activity, "user_id")
        .groupBy(
            "cohort_week",
            F.expr("datediff(active_week, cohort_week) DIV 7").alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "X12_funnel_conversion",
    """
    WITH s1 AS (
        SELECT user_id, MIN(ts) AS t FROM events
        WHERE event_type = 'signup' GROUP BY user_id
    ), s2 AS (
        SELECT e.user_id, MIN(e.ts) AS t FROM events e
        JOIN s1 ON e.user_id = s1.user_id AND e.ts >= s1.t
        WHERE e.event_type = 'view' GROUP BY e.user_id
    ), s3 AS (
        SELECT e.user_id, MIN(e.ts) AS t FROM events e
        JOIN s2 ON e.user_id = s2.user_id AND e.ts >= s2.t
        WHERE e.event_type = 'click' GROUP BY e.user_id
    ), s4 AS (
        SELECT e.user_id, MIN(e.ts) AS t FROM events e
        JOIN s3 ON e.user_id = s3.user_id AND e.ts >= s3.t
        WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT 'signup' AS stage, 1 AS stage_idx, COUNT(*) AS n_users FROM s1
    UNION ALL SELECT 'view', 2, COUNT(*) FROM s2
    UNION ALL SELECT 'click', 3, COUNT(*) FROM s3
    UNION ALL SELECT 'purchase', 4, COUNT(*) FROM s4
    """,
)
def funnel_conversion(spark, sf_dir):
    """signup -> view -> click -> purchase ordered funnel; see
    operators/funnel.py for the per-stage shrinking-join design."""
    from ..operators.funnel import funnel_counts

    ev = load(spark, sf_dir, "events")
    return funnel_counts(ev, ["signup", "view", "click", "purchase"])


# --------------------------------------------------------------------------
# N-VARIANT: Spark 4 VARIANT ingestion of semi-structured props — the
# shredded-JSON path. parse_json builds the binary VARIANT once; typed
# variant_get extraction replaces per-access string re-parsing
# (get_json_object walks the JSON text on EVERY call — the VARIANT
# decode-once form is the 100 TB shape for multi-field access). Oracle is
# DuckDB's json_extract on the same source column; the extracted field is
# integer so no float discipline applies.
# --------------------------------------------------------------------------


@query(
    "N_variant_extract",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
           MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
    FROM events GROUP BY event_type
    """,
)
def variant_extract(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    shredded = ev.select(
        "event_type",
        F.expr("variant_get(parse_json(props), '$.k', 'bigint')").alias("k"),
    )
    return shredded.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


# --------------------------------------------------------------------------
# EXT-W7: aggregate-as-window — rolling median of each user's last five
# event values. The frame holds ≤5 exact doubles, so percentile_cont
# interpolation ((a+b)/2 on the two middles) is a fixed IEEE op sequence
# on both engines: exact hash match without decimal discipline.
# --------------------------------------------------------------------------


@query(
    "W7_rolling_median",
    """
    SELECT event_id, user_id, ts,
           median(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
           ) AS rolling_median
    FROM events
    """,
)
def rolling_median(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    ev.createOrReplaceTempView("_w7_events")
    return spark.sql(
        """
        SELECT event_id, user_id, ts,
               percentile(value, 0.5) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
               ) AS rolling_median
        FROM _w7_events
        """
    )


# --------------------------------------------------------------------------
# EXT-J8: banded range join — NO equi key (cross-user by design): for
# each purchase, count ALL events platform-wide in the following two
# minutes. Without banding this is a nested-loop; with it, a bucket
# equi-join (operators/rangejoin.py). Integer epoch arithmetic → exact.
# --------------------------------------------------------------------------


@query(
    "J8_range_join_banded",
    """
    SELECT a.event_id, COUNT(b.event_id) AS n_after
    FROM events a LEFT JOIN events b
      ON b.ts > a.ts AND b.ts <= a.ts + INTERVAL 2 MINUTE
    WHERE a.event_type = 'purchase'
    GROUP BY a.event_id
    """,
)
def range_join_banded(spark, sf_dir):
    from ..operators.rangejoin import banded_range_join

    ev = load(spark, sf_dir, "events")
    anchors = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts"
    )
    others = ev.select(
        F.col("event_id").alias("b_event_id"), F.col("ts").alias("b_ts")
    )
    pairs = banded_range_join(
        anchors, others, "ts", "b_ts", lower_us=0, upper_us=120_000_000
    )
    counts = pairs.groupBy("event_id").agg(
        F.count("b_event_id").alias("n_after")
    )
    return anchors.join(counts, "event_id", "left").select(
        "event_id", F.coalesce("n_after", F.lit(0)).alias("n_after")
    )


# --------------------------------------------------------------------------
# EXT-W8: trailing z-score anomaly flag. Mean/variance of the last five
# values are spelled out as explicit lag() arithmetic (NOT avg/stddev
# window aggregates) so both engines execute the IDENTICAL IEEE op
# sequence — window-aggregate internals (Welford vs two-pass vs segment
# tree) are implementation-defined, but lag chains are just columns.
# Rows before a full 5-value history emit NULL, matching both engines.
# --------------------------------------------------------------------------


@query(
    "W8_zscore_trailing",
    """
    WITH lagged AS (
        SELECT event_id, user_id, ts, value,
               lag(value, 1) OVER w AS l1, lag(value, 2) OVER w AS l2,
               lag(value, 3) OVER w AS l3, lag(value, 4) OVER w AS l4
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_id, user_id, ts,
           round((value - (value + l1 + l2 + l3 + l4) / 5)
                 / sqrt((
                     (value - (value + l1 + l2 + l3 + l4) / 5) * (value - (value + l1 + l2 + l3 + l4) / 5)
                   + (l1 - (value + l1 + l2 + l3 + l4) / 5) * (l1 - (value + l1 + l2 + l3 + l4) / 5)
                   + (l2 - (value + l1 + l2 + l3 + l4) / 5) * (l2 - (value + l1 + l2 + l3 + l4) / 5)
                   + (l3 - (value + l1 + l2 + l3 + l4) / 5) * (l3 - (value + l1 + l2 + l3 + l4) / 5)
                   + (l4 - (value + l1 + l2 + l3 + l4) / 5) * (l4 - (value + l1 + l2 + l3 + l4) / 5)
                 ) / 4), 6) AS zscore
    FROM lagged
    """,
)
def zscore_trailing(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.lag("value", 1).over(w).alias("l1"),
        F.lag("value", 2).over(w).alias("l2"),
        F.lag("value", 3).over(w).alias("l3"),
        F.lag("value", 4).over(w).alias("l4"),
    )
    mean = (
        F.col("value") + F.col("l1") + F.col("l2") + F.col("l3") + F.col("l4")
    ) / 5
    var = (
        (F.col("value") - mean) * (F.col("value") - mean)
        + (F.col("l1") - mean) * (F.col("l1") - mean)
        + (F.col("l2") - mean) * (F.col("l2") - mean)
        + (F.col("l3") - mean) * (F.col("l3") - mean)
        + (F.col("l4") - mean) * (F.col("l4") - mean)
    ) / 4
    return lagged.select(
        "event_id",
        "user_id",
        "ts",
        F.round((F.col("value") - mean) / F.sqrt(var), 6).alias("zscore"),
    )


# --------------------------------------------------------------------------
# X12: session-scoped funnel — X8's gap sessionization composed with the
# ordered-funnel operator on a composite (user, session) key: a view →
# click → purchase sequence only converts when it happens INSIDE one
# 30-minute session. Pure timestamp/integer arithmetic; exact oracle.
# --------------------------------------------------------------------------


@query(
    "X12_session_funnel",
    """
    WITH flagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(ts) OVER w IS NULL THEN 1
                    WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1
                    ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
        SELECT user_id, ts, event_type,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_id
        FROM flagged
    ), s1 AS (
        SELECT user_id, session_id, MIN(ts) AS t FROM numbered
        WHERE event_type = 'view' GROUP BY 1, 2
    ), s2 AS (
        SELECT e.user_id, e.session_id, MIN(e.ts) AS t FROM numbered e
        JOIN s1 ON e.user_id = s1.user_id AND e.session_id = s1.session_id
               AND e.ts >= s1.t
        WHERE e.event_type = 'click' GROUP BY 1, 2
    ), s3 AS (
        SELECT e.user_id, e.session_id, MIN(e.ts) AS t FROM numbered e
        JOIN s2 ON e.user_id = s2.user_id AND e.session_id = s2.session_id
               AND e.ts >= s2.t
        WHERE e.event_type = 'purchase' GROUP BY 1, 2
    )
    SELECT 'view' AS stage, 1 AS stage_idx, COUNT(*) AS n_sessions FROM s1
    UNION ALL SELECT 'click', 2, COUNT(*) FROM s2
    UNION ALL SELECT 'purchase', 3, COUNT(*) FROM s3
    """,
)
def session_funnel(spark, sf_dir):
    from ..operators.funnel import funnel_counts

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_us = 30 * 60 * 1_000_000
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(F.lag("ts").over(w).isNull(), 1)
        .when(
            _epoch_us("ts")
            - F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
            > gap_us,
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    numbered = flagged.withColumn(
        "session_id", F.sum("new_session").over(wrun).cast("long")
    )
    return funnel_counts(
        numbered,
        ["view", "click", "purchase"],
        user_col=["user_id", "session_id"],
    ).withColumnRenamed("n_users", "n_sessions")


# --------------------------------------------------------------------------
# EXT-J6 forward: for each event, the user's EARLIEST order at-or-after
# the event (asof_join direction="forward" — the same single-shuffle
# union+window, run over a time-reversed order). DuckDB's ASOF JOIN is
# backward-only, so the oracle is the ranked LEFT JOIN formulation.
# --------------------------------------------------------------------------


@query(
    "J6_asof_next_order",
    """
    SELECT event_id, user_id, ts, asof_o_orderkey FROM (
        SELECT e.event_id, e.user_id, e.ts, o.o_orderkey AS asof_o_orderkey,
               ROW_NUMBER() OVER (
                   PARTITION BY e.event_id ORDER BY o.o_orderdate, o.o_orderkey
               ) AS rn
        FROM events e LEFT JOIN (
            SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
            FROM orders GROUP BY 1, 2
        ) o ON o.o_custkey = e.user_id AND o.o_orderdate >= e.ts
    ) ranked WHERE rn = 1
    """,
)
def asof_next_order(spark, sf_dir):
    ev, orders = load(spark, sf_dir, "events", "orders")
    orders_d = orders.groupBy("o_custkey", "o_orderdate").agg(
        F.max("o_orderkey").alias("o_orderkey")
    )
    return asof_join(
        ev,
        orders_d,
        left_on="user_id",
        right_on="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        value_cols=["o_orderkey"],
        left_cols=["event_id", "user_id", "ts"],
        direction="forward",
    )


# --------------------------------------------------------------------------
# EXT-J9: adaptive skew join in the gate — events⋈per-user profile on
# user_id, where the fixture's heavier users clear the hot threshold so
# the salted-hot ∪ plain-cold split genuinely executes (not the
# fallback). The oracle is the plain join: salting never changes
# results, only task-size distribution.
# --------------------------------------------------------------------------


@query(
    "J9_adaptive_skew_join",
    f"""
    WITH profile AS (
        SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY user_id
    )
    SELECT e.user_id, p.first_ts, COUNT(*) AS n_events,
           {sql_dsum('e.value', 'sum_value')}
    FROM events e JOIN profile p ON e.user_id = p.user_id
    GROUP BY 1, 2
    """,
)
def adaptive_skew_join_query(spark, sf_dir):
    from ..operators.scale import adaptive_salted_join

    ev = load(spark, sf_dir, "events")
    profile = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    joined = adaptive_salted_join(
        ev.select("user_id", "value"),
        profile,
        "user_id",
        hot_k=8,
        hot_min_fraction=0.005,
    )
    return joined.groupBy("user_id", "first_ts").agg(
        F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value")
    )


# --------------------------------------------------------------------------
# EXT-J9 (measured skew): a 90%-skew join scenario for the headline
# bench. ~90% of event rows collapse onto one synthetic hot key
# (user_id % 10 > 0 → -1), the worst case for a shuffle hash join: one
# task owns 90% of the probe side. The twin queries run the IDENTICAL
# semantics two ways —
#   * `_plain`: sort-merge join forced by a merge hint (no broadcast
#     escape hatch), leaving skew mitigation to AQE's runtime
#     skew-partition split;
#   * `_salted`: `adaptive_salted_join`, which discovers the hot key and
#     salts only its rows at plan time.
# Both carry the same plain-join oracle (salting/AQE never change the
# result set), so the skew path is value-checked AND its runtime is a
# recorded BENCH number instead of a claim.
# --------------------------------------------------------------------------

_SKEW90_SQL = f"""
    WITH keyed AS (
        SELECT CASE WHEN user_id % 10 > 0 THEN -1 ELSE user_id END AS skew_key,
               value
        FROM events
    ), dim AS (
        SELECT skew_key, COUNT(*) AS key_rows FROM keyed GROUP BY skew_key
    )
    SELECT k.skew_key, d.key_rows, COUNT(*) AS n_joined,
           {sql_dsum('k.value', 'sum_value')}
    FROM keyed k JOIN dim d ON k.skew_key = d.skew_key
    GROUP BY 1, 2
"""


def _skew90_inputs(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    keyed = ev.select(
        F.when(F.col("user_id") % 10 > 0, F.lit(-1).cast("long"))
        .otherwise(F.col("user_id"))
        .alias("skew_key"),
        "value",
    )
    dim = keyed.groupBy("skew_key").agg(F.count(F.lit(1)).alias("key_rows"))
    return keyed, dim


@query("J9_skew90_join_plain", _SKEW90_SQL)
def skew90_join_plain(spark, sf_dir):
    keyed, dim = _skew90_inputs(spark, sf_dir)
    joined = keyed.join(dim.hint("merge"), "skew_key")
    return joined.groupBy("skew_key", "key_rows").agg(
        F.count(F.lit(1)).alias("n_joined"), dsum("value", "sum_value")
    )


@query("J9_skew90_join_salted", _SKEW90_SQL)
def skew90_join_salted(spark, sf_dir):
    from ..operators.scale import adaptive_salted_join

    keyed, dim = _skew90_inputs(spark, sf_dir)
    joined = adaptive_salted_join(
        keyed, dim, "skew_key", hot_k=4, hot_min_fraction=0.05
    )
    return joined.groupBy("skew_key", "key_rows").agg(
        F.count(F.lit(1)).alias("n_joined"), dsum("value", "sum_value")
    )


# --------------------------------------------------------------------------
# X13: first-order Markov transition matrix over per-user event
# sequences — the sequence-modeling summary (what follows what, with
# probabilities). Counts are exact; the probability is one int/int double
# division (identical IEEE op on both engines), so no rounding discipline
# is needed.
# --------------------------------------------------------------------------


@query(
    "X13_event_transition_matrix",
    """
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type
        FROM events
    ), c AS (
        SELECT prev_type, event_type AS next_type, COUNT(*) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
    ), t AS (
        SELECT prev_type, SUM(n) AS total FROM c GROUP BY prev_type
    )
    SELECT c.prev_type, c.next_type, c.n,
           CAST(c.n AS DOUBLE) / t.total AS p
    FROM c JOIN t ON c.prev_type = t.prev_type
    """,
)
def event_transition_matrix(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    c = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    t = c.groupBy("prev_type").agg(F.sum("n").alias("total"))
    return c.join(t, "prev_type").select(
        "prev_type",
        "next_type",
        "n",
        (F.col("n").cast("double") / F.col("total")).alias("p"),
    )


# --------------------------------------------------------------------------
# X14: RFM segmentation — recency / frequency / monetary quartiles per
# user, the classic customer-value cut. Recency anchors on the corpus
# max timestamp (deterministic, no wall clock); monetary uses the
# decimal-sum discipline; every ntile order carries the user_id tiebreak
# so quartile boundaries are total-order deterministic on both engines.
# --------------------------------------------------------------------------


@query(
    "X14_rfm_segmentation",
    f"""
    WITH anchor AS (
        SELECT MAX(ts) AS max_ts FROM events
    ), per_user AS (
        SELECT user_id,
               date_diff('day', MAX(ts), (SELECT max_ts FROM anchor)) AS recency_days,
               COUNT(*) AS frequency,
               {sql_dsum("CASE WHEN event_type = 'purchase' THEN value ELSE 0 END", "monetary")}
        FROM events GROUP BY user_id
    )
    SELECT user_id, recency_days, frequency, monetary,
           ntile(4) OVER (ORDER BY recency_days, user_id) AS r_quartile,
           ntile(4) OVER (ORDER BY frequency DESC, user_id) AS f_quartile,
           ntile(4) OVER (ORDER BY monetary DESC, user_id) AS m_quartile
    FROM per_user
    """,
)
def rfm_segmentation(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    anchor = ev.agg(F.max("ts").alias("max_ts"))
    per_user = (
        ev.crossJoin(F.broadcast(anchor))
        .groupBy("user_id")
        .agg(
            F.datediff(F.max("max_ts"), F.max("ts")).cast("long").alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            dsum(
                F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(
                    0.0
                ),
                "monetary",
            ),
        )
    )
    # three DISTRIBUTED ntiles (operators/scale.py global_ntile) — the
    # per-user table is small at sf0.1 but billions of rows at web scale;
    # each quartile pass range-partitions on its own order instead of
    # funnelling every user through one unpartitioned-window task.
    from ..operators.scale import global_ntile

    out = global_ntile(
        per_user, [F.col("recency_days"), F.col("user_id")], 4, "r_quartile"
    )
    out = global_ntile(
        out, [F.desc("frequency"), F.asc("user_id")], 4, "f_quartile"
    )
    out = global_ntile(
        out, [F.desc("monetary"), F.asc("user_id")], 4, "m_quartile"
    )
    return out.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        "r_quartile",
        "f_quartile",
        "m_quartile",
    )


# --------------------------------------------------------------------------
# X13: per-user EWMA — a genuinely RECURSIVE smoothing statistic
# (EWMA_t = αx_t + (1-α)EWMA_{t-1}) computed exactly on both engines:
# the value sequence is materialized in (ts, event_id) order and folded
# left-to-right with the identical IEEE expression (first element seeds
# the fold on both sides — Spark via slice+seed, DuckDB's list_reduce by
# definition), so even an order-sensitive recurrence hash-matches.
# --------------------------------------------------------------------------

_EWMA_ALPHA = "0.3"


@query(
    "X13_ewma_per_user",
    f"""
    SELECT user_id,
           round(list_reduce(
               list(CAST(value AS DOUBLE) ORDER BY ts, event_id),
               (acc, x) -> {_EWMA_ALPHA} * x + (1.0 - {_EWMA_ALPHA}) * acc
           ), 6) AS ewma,
           COUNT(*) AS n_events
    FROM events GROUP BY user_id
    """,
)
def ewma_per_user(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.collect_list(F.struct("ts", "event_id", "value")).alias("raw"),
        F.count(F.lit(1)).alias("n_events"),
    )
    # sort_array orders the structs by (ts, event_id, value) — a total
    # order since event_id is unique — making collect_list's
    # partition-dependent order irrelevant.
    tv = "transform(sort_array(raw), s -> cast(s.value as double))"
    ewma = (
        f"round(aggregate(slice({tv}, 2, size({tv}) - 1),"
        f" element_at({tv}, 1),"
        f" (acc, x) -> {_EWMA_ALPHA}D * x + (1.0D - {_EWMA_ALPHA}D) * acc), 6)"
    )
    return per_user.select(
        "user_id", F.expr(ewma).alias("ewma"), "n_events"
    )


# --------------------------------------------------------------------------
# EXT-W9: running DISTINCT count over a window. Spark has no
# COUNT(DISTINCT) window — the idiomatic workaround is
# size(collect_set() OVER w), which this query pins against DuckDB's
# native windowed DISTINCT aggregate. Exact integers, total-order frame.
# --------------------------------------------------------------------------


@query(
    "W9_running_distinct_types",
    """
    SELECT event_id, user_id, ts,
           COUNT(DISTINCT event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS n_types_seen
    FROM events
    """,
)
def running_distinct_types(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.size(F.collect_set("event_type").over(w)).cast("long").alias("n_types_seen"),
    )


# --------------------------------------------------------------------------
# X18: last-touch attribution — each purchase event credits the user's
# most recent click within the preceding 7 days: the marketing-analytics
# as-of join (backward, bounded lookback). Declared through the same
# ranked-join shape as J6 (window keyed by the purchase, latest click
# first, unique event-id tiebreaks) so both engines resolve ties
# identically; purchases with no qualifying click keep a NULL credit
# (left join semantics — they are still conversions).
# --------------------------------------------------------------------------


@query(
    "X18_attribution_last_touch",
    """
    SELECT event_id, user_id, ts, click_event_id, click_ts FROM (
        SELECT p.event_id, p.user_id, p.ts,
               c.event_id AS click_event_id, c.ts AS click_ts,
               ROW_NUMBER() OVER (
                   PARTITION BY p.event_id
                   ORDER BY c.ts DESC, c.event_id DESC
               ) AS rn
        FROM (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase') p
        LEFT JOIN (SELECT event_id, user_id, ts FROM events
                   WHERE event_type = 'click') c
          ON c.user_id = p.user_id
         AND c.ts <= p.ts
         AND epoch_us(p.ts) - epoch_us(c.ts) <= 604800000000
    ) ranked WHERE rn = 1
    """,
)
def attribution_last_touch(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_event_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("click_ts"),
    )
    joined = purchases.join(
        clicks,
        (F.col("c_user_id") == F.col("user_id"))
        & (F.col("click_ts") <= F.col("ts"))
        & (
            _epoch_us("ts") - _epoch_us("click_ts") <= 604800000000
        ),
        "left",
    )
    w = Window.partitionBy("event_id").orderBy(
        F.desc("click_ts"), F.desc("click_event_id")
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "ts", "click_event_id", "click_ts")
    )


# --------------------------------------------------------------------------
# A22: OLS regression aggregates from EXACT integer moments. regr_slope /
# regr_intercept exist on both engines, but their double moment
# accumulations differ in the last ulps (observed: a 1e-14-relative
# intercept difference flipping the 9dp hash), so the declared form
# computes the same closed-form OLS from exact sums — quantity is an
# integer, price in cents is exact — with ONE IEEE double division per
# output (bit-identical on any engine). regr_count (exact by definition)
# represents the native API family in the output.
# --------------------------------------------------------------------------


@query(
    "A22_regression_aggs",
    """
    WITH m AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               SUM(CAST(l_quantity AS BIGINT)) AS sx,
               SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
                   AS sx2,
               SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS sy,
               SUM(CAST(l_quantity AS BIGINT)
                   * CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS sxy
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(regr_count(l2.l_extendedprice, l2.l_quantity) AS BIGINT)
               AS n,
           CAST(CAST(m.n AS DECIMAL(38,0)) * m.sxy
                - CAST(m.sx AS DECIMAL(38,0)) * m.sy AS DOUBLE)
           / CAST(CAST(m.n AS DECIMAL(38,0)) * m.sx2
                  - CAST(m.sx AS DECIMAL(38,0)) * m.sx AS DOUBLE)
               AS slope_cents_per_unit,
           CAST(CAST(m.sy AS DECIMAL(38,0)) * m.sx2
                - CAST(m.sx AS DECIMAL(38,0)) * m.sxy AS DOUBLE)
           / CAST(CAST(m.n AS DECIMAL(38,0)) * m.sx2
                  - CAST(m.sx AS DECIMAL(38,0)) * m.sx AS DOUBLE)
               AS intercept_cents
    FROM m JOIN lineitem l2 USING (l_returnflag)
    GROUP BY l_returnflag, m.n, m.sx, m.sx2, m.sy, m.sxy
    """,
)
def regression_aggs(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("bigint")
    y_cents = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(x * x).alias("sx2"),
        F.sum(y_cents).alias("sy"),
        F.sum(x * y_cents).alias("sxy"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    den = (dec("n") * dec("sx2") - dec("sx") * dec("sx")).cast("double")
    slope = (dec("n") * dec("sxy") - dec("sx") * dec("sy")).cast("double") / den
    intercept = (
        dec("sy") * dec("sx2") - dec("sx") * dec("sxy")
    ).cast("double") / den
    cnt = li.groupBy("l_returnflag").agg(
        F.regr_count("l_extendedprice", "l_quantity").cast("bigint").alias("n")
    )
    return m.join(cnt.withColumnRenamed("n", "n_regr"), "l_returnflag").select(
        "l_returnflag",
        F.col("n_regr").alias("n"),
        slope.alias("slope_cents_per_unit"),
        intercept.alias("intercept_cents"),
    )


# --------------------------------------------------------------------------
# DQ4: key-skew profile — the observability query behind every salting
# decision: per join key (user_id), how concentrated is the table? Top
# share and p99 share are exact int/int double divisions over exact
# counts; ranking is total-order deterministic.
# --------------------------------------------------------------------------


@query(
    "DQ4_key_skew_profile",
    """
    WITH per_key AS (
        SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
    ), ranked AS (
        SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, user_id) AS rk,
               COUNT(*) OVER () AS n_keys,
               SUM(n) OVER () AS total
        FROM per_key
    )
    SELECT CAST(ANY_VALUE(n_keys) AS BIGINT) AS n_keys,
           CAST(ANY_VALUE(total) AS BIGINT) AS n_rows,
           CAST(MAX(CASE WHEN rk = 1 THEN n END) AS DOUBLE)
           / ANY_VALUE(total) AS top1_share,
           CAST(SUM(CASE WHEN rk <= 10 THEN n ELSE 0 END) AS DOUBLE)
           / ANY_VALUE(total) AS top10_share
    FROM ranked
    """,
)
def key_skew_profile(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    per_key = cut_lineage(  # two branches below share one pass
        ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    )
    # the ranked window only ever fed "rk = 1" and "rk <= 10" — both are
    # plain aggregates: top1 is MAX(n); the top-10 slice comes from
    # orderBy+limit (TakeOrderedAndProject: per-partition top-k, 10-row
    # merge) with the same (n DESC, user_id) tiebreak as the oracle's
    # row_number, so boundary ties resolve identically. No window at all.
    totals = per_key.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("n").cast("bigint").alias("n_rows"),
        F.max("n").alias("top1_n"),
    )
    top10 = (
        per_key.orderBy(F.desc("n"), F.asc("user_id"))
        .limit(10)
        .agg(F.sum("n").alias("top10_n"))
    )
    return totals.crossJoin(F.broadcast(top10)).select(
        "n_keys",
        "n_rows",
        (F.col("top1_n").cast("double") / F.col("n_rows")).alias("top1_share"),
        (F.col("top10_n").cast("double") / F.col("n_rows")).alias("top10_share"),
    )


# --------------------------------------------------------------------------
# X19: conversion rates with Wilson 95% lower bound — the ranking
# statistic that doesn't reward tiny-sample flukes (a 2/2 cohort must
# not outrank 180/200). Counts are exact; the Wilson expression is one
# fixed tree of IEEE double ops over those exact counts, so both engines
# produce bit-identical bounds from the identical SQL text.
# --------------------------------------------------------------------------

_WILSON_SQL = """
    WITH cohorts AS (
        SELECT user_id % 10 AS cohort,
               COUNT(DISTINCT user_id) AS n_users,
               COUNT(DISTINCT CASE WHEN event_type = 'purchase'
                                   THEN user_id END) AS n_converted
        FROM events GROUP BY 1
    )
    SELECT cohort, n_users, n_converted,
           CAST(n_converted AS DOUBLE) / n_users AS rate,
           ((CAST(n_converted AS DOUBLE) / n_users)
            + 1.9208 / n_users
            - 1.96 * sqrt(
                  (CAST(n_converted AS DOUBLE) / n_users)
                  * (1.0 - CAST(n_converted AS DOUBLE) / n_users) / n_users
                  + 0.9604 / (CAST(n_users AS DOUBLE) * n_users)))
           / (1.0 + 3.8416 / n_users) AS wilson_low
    FROM cohorts
"""


@query("X19_conversion_wilson_ci", _WILSON_SQL)
def conversion_wilson_ci(spark, sf_dir):
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_WILSON_SQL)


# --------------------------------------------------------------------------
# X6: OHLC downsampling — the time-series resample-to-bars primitive
# (open/high/low/close + count + exact volume per hour per event type).
# open/close are min_by/max_by on the event timestamp: ONE hash-aggregate
# pass, no window, no sort — the 100 TB shape for downsampling. The
# fixture generates globally unique `ts` values (pinned by
# tests/test_events.py::test_events_ts_unique), so the min_by/arg_min
# order key is a total order and both engines pick identical rows.
# --------------------------------------------------------------------------

_OHLC_SQL = f"""
    SELECT date_trunc('hour', ts) AS hour, event_type,
           arg_min(value, ts) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           arg_max(value, ts) AS close,
           COUNT(*) AS n,
           {sql_dsum('value', 'volume')}
    FROM events
    GROUP BY 1, 2
"""


@query("X6_ohlc_downsample", _OHLC_SQL)
def ohlc_downsample(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.min_by("value", "ts").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", "ts").alias("close"),
        F.count(F.lit(1)).alias("n"),
        dsum("value", "volume"),
    )


# --------------------------------------------------------------------------
# A23: correlation / covariance from EXACT moments — corr()/covar_pop()
# exist natively on both engines but their double accumulations differ in
# the last ulps (the A22 lesson), so the declared form computes the
# closed forms from exact integer/decimal moments with a fixed, tiny
# tail of IEEE ops (two double mults, one sqrt, one divide — identical
# on any engine). The y² sum accumulates in DECIMAL(38,0): at 100 TB a
# BIGINT sum of squared cent-prices overflows, and this query must not.
# --------------------------------------------------------------------------


@query(
    "A23_correlation_exact",
    """
    WITH m AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               SUM(CAST(l_quantity AS BIGINT)) AS sx,
               SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
                   AS sx2,
               SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS sy,
               SUM(CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                   * CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                   AS DECIMAL(38,0))) AS sy2,
               SUM(CAST(l_quantity AS BIGINT)
                   * CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS sxy
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           CAST(CAST(n AS DECIMAL(38,0)) * sxy
                - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
           / sqrt(CAST(CAST(n AS DECIMAL(38,0)) * sx2
                       - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)
                * CAST(CAST(n AS DECIMAL(38,0)) * CAST(sy2 AS DECIMAL(38,0))
                       - CAST(sy AS DECIMAL(38,0)) * sy AS DOUBLE))
               AS corr_qty_price,
           CAST(CAST(n AS DECIMAL(38,0)) * sxy
                - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
           / CAST(n AS DOUBLE) / CAST(n AS DOUBLE) AS covar_pop_cents
    FROM m
    """,
)
def correlation_exact(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("bigint")
    y = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(x * x).alias("sx2"),
        F.sum(y).alias("sy"),
        F.sum((y * y).cast("decimal(38,0)")).alias("sy2"),
        F.sum(x * y).alias("sxy"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    num = (dec("n") * dec("sxy") - dec("sx") * dec("sy")).cast("double")
    varx = (dec("n") * dec("sx2") - dec("sx") * dec("sx")).cast("double")
    vary = (dec("n") * dec("sy2") - dec("sy") * dec("sy")).cast("double")
    nd = F.col("n").cast("double")
    return m.select(
        "l_returnflag",
        "n",
        (num / F.sqrt(varx * vary)).alias("corr_qty_price"),
        (num / nd / nd).alias("covar_pop_cents"),
    )


# --------------------------------------------------------------------------
# J6 (cont.): as-of join with a TOLERANCE band (pandas merge_asof
# tolerance / kdb wj semantics): the as-of match is kept only when it is
# fresh enough, else nulled. The fixture's epochs make the band bite —
# orders span 1995-2001 and events sit in 2024, so an 8766-day (~24 y)
# tolerance keeps matches to recent-enough orders and nulls the stale
# tail: both outcomes populated. Same one-shuffle/one-window plan as J6;
# the band is a post-attach projection.
# --------------------------------------------------------------------------


@query(
    "J6_asof_tolerance_band",
    """
    SELECT e.event_id, e.user_id, e.ts,
           CASE WHEN o.o_orderdate >= e.ts - INTERVAL 8766 DAY
                THEN o.o_orderkey END AS asof_o_orderkey
    FROM events e
    ASOF LEFT JOIN (
        SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
        FROM orders GROUP BY 1, 2
    ) o ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
)
def asof_tolerance_band(spark, sf_dir):
    ev, orders = load(spark, sf_dir, "events", "orders")
    orders_d = orders.groupBy("o_custkey", "o_orderdate").agg(
        F.max("o_orderkey").alias("o_orderkey")
    )
    return asof_join(
        ev,
        orders_d,
        left_on="user_id",
        right_on="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        value_cols=["o_orderkey"],
        left_cols=["event_id", "user_id", "ts"],
        tolerance="8766 DAY",
    )


# --------------------------------------------------------------------------
# X12 (cont.): DAU/MAU stickiness — the engagement ratio product teams
# live by. Distinct (user, day) pairs reduce events to the small active
# table first (ONE distinct shuffle over the raw stream — everything
# after runs on |users|·|days| rows, not |events|); trailing-28-day MAU
# comes from a banded self-join of the pair table against the day
# spine (fan-out ≤ 28 per pair — the J8 candidate-bounding shape, no
# sliding count-distinct window needed). Exact integer counts; the
# ratio is one double division, identical both engines.
# --------------------------------------------------------------------------


@query(
    "X12_dau_mau_stickiness",
    """
    WITH active AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), days AS (
      SELECT DISTINCT day FROM active
    ), dau AS (
      SELECT day, COUNT(*) AS dau FROM active GROUP BY day
    ), mau AS (
      SELECT d.day, COUNT(DISTINCT a.user_id) AS mau
      FROM days d JOIN active a
        ON a.day <= d.day AND a.day >= d.day - INTERVAL 27 DAY
      GROUP BY d.day
    )
    SELECT dau.day, dau.dau, mau.mau,
           round(CAST(dau.dau AS DOUBLE) / mau.mau, 6) AS stickiness
    FROM dau JOIN mau USING (day)
    """,
)
def dau_mau_stickiness(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    active = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    days = active.select("day").distinct()
    dau = active.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    a = active.select(F.col("user_id"), F.col("day").alias("aday"))
    mau = (
        days.join(
            a,
            (F.col("aday") <= F.col("day"))
            & (F.col("aday") >= F.date_sub(F.col("day"), 27)),
        )
        .groupBy("day")
        .agg(F.count_distinct("user_id").alias("mau"))
    )
    return (
        dau.join(mau, "day")
        .select(
            "day",
            "dau",
            "mau",
            F.round(F.col("dau").cast("double") / F.col("mau"), 6).alias(
                "stickiness"
            ),
        )
    )


# --------------------------------------------------------------------------
# X13 (cont.): top session paths — the full-journey complement of the
# pairwise transition matrix: sessionize by 30-min gaps (X8's lag
# pattern), fold each session's event types into an ordered path string,
# and count the most common journeys. The ordered fold is
# string_agg(... ORDER BY) / sort_array(collect_list(struct)) — the
# canonical ordered-aggregation idiom (deterministic: the sort key
# includes the unique event_id tiebreak). Paths are capped at the first
# 12 events so a marathon session can't grow an unbounded group key.
# --------------------------------------------------------------------------


@query(
    "X13_top_session_paths",
    """
    WITH flagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(ts) OVER w IS NULL THEN 1
                    WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w)
                         > 1800000000 THEN 1
                    ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
        SELECT user_id, ts, event_id, event_type,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_id
        FROM flagged
    ), stepped AS (
        SELECT user_id, ts, event_id, event_type, session_id,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id, session_id ORDER BY ts, event_id
               ) AS step
        FROM numbered
    ), paths AS (
        SELECT user_id, session_id,
               string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        FROM stepped WHERE step <= 12
        GROUP BY user_id, session_id
    )
    SELECT path, COUNT(*) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT 20
    """,
)
def top_session_paths(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_us = 30 * 60 * 1_000_000
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(F.lag("ts").over(w).isNull(), 1)
        .when(
            _epoch_us("ts")
            - F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
            > gap_us,
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    numbered = flagged.withColumn(
        "session_id", F.sum("new_session").over(wrun).cast("long")
    )
    ws = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    paths = (
        numbered.withColumn("step", F.row_number().over(ws))
        .filter(F.col("step") <= 12)
        .groupBy("user_id", "session_id")
        .agg(
            F.expr(
                "concat_ws('>', transform(array_sort("
                "collect_list(struct(ts, event_id, event_type))),"
                " x -> x.event_type))"
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(20)
    )


# --------------------------------------------------------------------------
# X15: session anomaly screen — sessions whose event count sits beyond
# 3·MAD of the corpus median (bot bursts, scraping, stuck clients). The
# robust-stats core is DQ5's (median + MAD survive the very outliers
# they hunt); the input is the sessionized event stream rather than a
# raw column. Two tiny scalar aggregates broadcast back onto the
# session table — no window over the full stream beyond the
# sessionization itself.
#
# Scale note (DQ5's footnote applies here too): the two exact
# `F.percentile` aggregations buffer DISTINCT session sizes, not
# sessions — event counts are small integers with bounded cardinality
# (a 10^6-event session is already the anomaly), so the buffer stays
# KBs even at 100 TB. If session sizes were unbounded-cardinality (e.g.
# a continuous score), swap both for `approx_percentile` (t-digest,
# constant memory) — the 3·MAD screen tolerates t-digest error because
# anomalies sit far outside the band by construction.
# --------------------------------------------------------------------------


@query(
    "X15_session_anomalies",
    _SESSIONIZE_SQL
    + """
    , sess AS (
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               COUNT(*) AS n_events
        FROM numbered GROUP BY 1, 2
    ), med AS (
        SELECT percentile_cont(0.5) WITHIN GROUP (ORDER BY n_events) AS m
        FROM sess
    ), dev AS (
        SELECT percentile_cont(0.5) WITHIN GROUP
                   (ORDER BY abs(sess.n_events - med.m)) AS mad
        FROM sess, med
    )
    SELECT s.user_id, s.session_id, s.n_events
    FROM sess s, med, dev
    WHERE abs(s.n_events - med.m) > 3 * dev.mad
    """,
)
def session_anomalies(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_us = 30 * 60 * 1_000_000
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.lag("ts").over(w).isNull(), 1)
        .when(
            _epoch_us("ts")
            - F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
            > gap_us,
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    sess = (
        flagged.withColumn(
            "session_id", F.sum("new_session").over(wrun).cast("long")
        )
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    med = sess.agg(F.percentile("n_events", F.lit(0.5)).alias("m"))
    dev = (
        sess.crossJoin(F.broadcast(med))
        .agg(
            F.percentile(
                F.abs(F.col("n_events") - F.col("m")), F.lit(0.5)
            ).alias("mad")
        )
    )
    return (
        sess.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(dev))
        .filter(F.abs(F.col("n_events") - F.col("m")) > 3 * F.col("mad"))
        .select("user_id", "session_id", "n_events")
    )


# --------------------------------------------------------------------------
# EXT-W12: running COUNT(DISTINCT) — cumulative distinct users by day.
# Spark windows don't support COUNT(DISTINCT) over a frame; the classic
# decomposition is exact: attribute each user to their FIRST active day
# (one hash agg), count first-appearances per day, and prefix-sum those
# counts over the day order. The prefix sum runs through
# operators/scale.global_running_sum (range-partitioned partial sums +
# broadcast offsets), never an unpartitioned window — the day table is
# small here but the same query shape must survive an order column with
# billions of distinct values (e.g. cumulative distinct per timestamp).
# --------------------------------------------------------------------------


@query(
    "W12_running_distinct_users",
    """
    WITH first_day AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS day
        FROM events GROUP BY user_id
    ), per_day AS (
        SELECT day, COUNT(*) AS new_users FROM first_day GROUP BY day
    )
    SELECT day, new_users,
           CAST(SUM(new_users) OVER (
               ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_users
    FROM per_day
    """,
)
def running_distinct_users(spark, sf_dir):
    from ..operators.scale import global_running_sum

    ev = load(spark, sf_dir, "events")
    first_day = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("day")
    )
    per_day = first_day.groupBy("day").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    return global_running_sum(
        per_day, ["day"], "new_users", "cum_users", exclusive=False
    ).select("day", "new_users", "cum_users")


# --------------------------------------------------------------------------
# X13: Holt linear (double exponential) smoothing per user — level+trend
# state folded over the time-ordered value sequence; one-step-ahead
# forecast = level + trend. Same contract as X13_ewma_per_user: the
# recurrence is order-sensitive, so the sequence is pinned to the
# (ts, event_id) total order and BOTH engines execute the identical fold
# (Spark `aggregate` with an array [level, trend] accumulator and
# explicit init; DuckDB `list_reduce` takes no init, so the init pair
# rides as the first element of a list-of-pairs). α=0.5 and β=0.3 parse
# to identical doubles on both engines and the arithmetic is written in
# the same operation order, so the folds agree to the bit before the
# final 6dp round. Init convention: level₀ = x₁, trend₀ = x₂ − x₁, fold
# over x₂..xₙ; a single-event user is (x₁, 0).
# --------------------------------------------------------------------------


@query(
    "X13_holt_linear_per_user",
    """
    WITH s AS (
        SELECT user_id,
               list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS v,
               COUNT(*) AS n_events
        FROM events GROUP BY user_id
    ), f AS (
        SELECT user_id, n_events,
               CASE WHEN len(v) >= 2 THEN
                   list_reduce(
                       [CASE WHEN i = 1 THEN [v[1], v[2] - v[1]]
                             ELSE [v[i], 0.0] END
                        for i in range(1, len(v) + 1)],
                       (acc, e) -> [
                           0.5 * e[1] + 0.5 * (acc[1] + acc[2]),
                           0.3 * ((0.5 * e[1] + 0.5 * (acc[1] + acc[2]))
                                  - acc[1]) + 0.7 * acc[2]])
                   ELSE [v[1], 0.0] END AS lb
        FROM s
    )
    SELECT user_id, n_events,
           round(lb[1], 6) AS level,
           round(lb[2], 6) AS trend,
           round(lb[1] + lb[2], 6) AS forecast_1
    FROM f
    """,
)
def holt_linear_per_user(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.collect_list(F.struct("ts", "event_id", "value")).alias("raw"),
        F.count(F.lit(1)).alias("n_events"),
    )
    tv = "transform(sort_array(raw), s -> cast(s.value as double))"
    lb = (
        f"CASE WHEN size({tv}) >= 2 THEN"
        f" aggregate(slice({tv}, 2, size({tv}) - 1),"
        f" array(element_at({tv}, 1),"
        f"       element_at({tv}, 2) - element_at({tv}, 1)),"
        f" (acc, e) -> array("
        f"   0.5D * e + 0.5D * (acc[0] + acc[1]),"
        f"   0.3D * ((0.5D * e + 0.5D * (acc[0] + acc[1])) - acc[0])"
        f"     + 0.7D * acc[1]))"
        f" ELSE array(element_at({tv}, 1), 0D) END"
    )
    return per_user.select(
        "user_id",
        "n_events",
        F.expr(f"round(({lb})[0], 6)").alias("level"),
        F.expr(f"round(({lb})[1], 6)").alias("trend"),
        F.expr(f"round(({lb})[0] + ({lb})[1], 6)").alias("forecast_1"),
    )


# --------------------------------------------------------------------------
# EXT-J6 (nearest): each event attaches the user's temporally CLOSEST
# order — |Δt| minimized, exact ties to the backward (≤) side, pandas
# merge_asof(direction="nearest") semantics. operators/asof.py::
# asof_join_nearest keeps the single-exchange design: two windows
# (ascending/descending running-last) share one key partitioning, no
# second shuffle. DuckDB has no nearest ASOF, so the oracle is the
# ranked LEFT join over integer-microsecond distances.
# --------------------------------------------------------------------------


@query(
    "J6_asof_nearest_order",
    """
    SELECT event_id, user_id, ts, nearest_o_orderkey FROM (
        SELECT e.event_id, e.user_id, e.ts,
               o.o_orderkey AS nearest_o_orderkey,
               ROW_NUMBER() OVER (
                   PARTITION BY e.event_id
                   ORDER BY abs(epoch_us(e.ts)
                                - epoch_us(CAST(o.o_orderdate AS TIMESTAMP))),
                            CASE WHEN o.o_orderdate <= e.ts
                                 THEN 0 ELSE 1 END,
                            o.o_orderkey DESC
               ) AS rn
        FROM events e
        LEFT JOIN (
            SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
            FROM orders GROUP BY 1, 2
        ) o ON e.user_id = o.o_custkey
    ) WHERE rn = 1
    """,
)
def asof_nearest_order(spark, sf_dir):
    from ..operators.asof import asof_join_nearest

    ev, orders = load(spark, sf_dir, "events", "orders")
    orders_d = orders.groupBy("o_custkey", "o_orderdate").agg(
        F.max("o_orderkey").alias("o_orderkey")
    )
    return asof_join_nearest(
        ev,
        orders_d,
        left_on="user_id",
        right_on="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        value_cols=["o_orderkey"],
        left_cols=["event_id", "user_id", "ts"],
    )


# --------------------------------------------------------------------------
# EXT-W13: gaps-and-islands — longest consecutive-active-day streak per
# user. The classic island key: day − row_number() over the per-user day
# order is constant exactly within a run of consecutive days. Two hash
# aggregations + one user-partitioned window; no self-join, no global
# window.
# --------------------------------------------------------------------------


@query(
    "W13_longest_streak_per_user",
    """
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), grp AS (
        SELECT user_id, day,
               day - CAST(ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY day) AS INTEGER) AS island
        FROM days
    ), streaks AS (
        SELECT user_id, island, COUNT(*) AS len, MIN(day) AS start_day
        FROM grp GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(SUM(len) AS BIGINT) AS n_active_days,
           CAST(MAX(len) AS BIGINT) AS longest_streak,
           MIN(start_day) FILTER (
               WHERE len = (SELECT MAX(s2.len) FROM streaks s2
                            WHERE s2.user_id = streaks.user_id)
           ) AS longest_start
    FROM streaks GROUP BY user_id
    """,
)
def longest_streak_per_user(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    grp = days.withColumn(
        "island", F.date_sub("day", F.row_number().over(w))
    )
    streaks = grp.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("len"), F.min("day").alias("start_day")
    )
    wmax = Window.partitionBy("user_id")
    return (
        streaks.withColumn("max_len", F.max("len").over(wmax))
        .groupBy("user_id")
        .agg(
            F.sum("len").alias("n_active_days"),
            F.max("len").alias("longest_streak"),
            F.min(
                F.when(F.col("len") == F.col("max_len"), F.col("start_day"))
            ).alias("longest_start"),
        )
    )


# --------------------------------------------------------------------------
# X12: multi-touch attribution — the revenue-credit assignment every
# growth/marketing pipeline runs over the event log: each purchase is
# attributed to the touch events (click/view) that preceded it within a
# 7-day lookback, under BOTH standard models at once — last-touch (the
# most recent touch takes full credit; deterministic tiebreak on
# (ts, event_id)) and linear (credit split equally across the
# conversion's touches). Shapes: one per-user time-banded join (the J7
# interval-join shape — equi user key + time-range residual, so the
# shuffle is user-keyed and candidates are lookback-bounded), two
# conversion-partitioned windows sharing that join's output, one final
# channel aggregation.
#
# Determinism: last-touch revenue uses the dsum DECIMAL contract; linear
# credit is fixed-pointed BEFORE the split (round(value·1e6) BIGINT,
# then truncating integer division by n_touches) so the per-channel sums
# are exact integer arithmetic — engine- and order-independent, the X4
# LM-scoring contract. Conversions with no touch in the window simply
# don't appear (an untouched purchase has no channel to credit).
# --------------------------------------------------------------------------


@query(
    "X12_attribution_models",
    f"""
    WITH touches AS (
        SELECT user_id, ts, event_id, event_type FROM events
        WHERE event_type IN ('click', 'view')
    ), conv AS (
        SELECT user_id, ts, event_id, value FROM events
        WHERE event_type = 'purchase'
    ), cand AS (
        SELECT c.event_id AS conv_id, c.value, t.event_type AS channel,
               t.ts AS t_ts, t.event_id AS touch_id,
               COUNT(*) OVER (PARTITION BY c.event_id) AS n_touches,
               ROW_NUMBER() OVER (
                   PARTITION BY c.event_id
                   ORDER BY t.ts DESC, t.event_id DESC
               ) AS rn
        FROM conv c JOIN touches t
          ON t.user_id = c.user_id
         AND t.ts < c.ts
         AND t.ts >= c.ts - INTERVAL 7 DAY
    )
    SELECT channel,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_last_touch,
           {sql_dsum("CASE WHEN rn = 1 THEN value END", "last_touch_value")},
           CAST(SUM(CAST(round(value * 1000000.0) AS BIGINT) // n_touches)
                AS BIGINT) AS linear_credit_micro
    FROM cand GROUP BY channel
    """,
)
def attribution_models(spark, sf_dir):
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    touches = ev.filter(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("t_user_id"),
        F.col("ts").alias("t_ts"),
        F.col("event_id").alias("touch_id"),
        F.col("event_type").alias("channel"),
    )
    conv = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("ts"),
        F.col("event_id").alias("conv_id"),
        F.col("value"),
    )
    cand = conv.join(
        touches,
        (F.col("t_user_id") == F.col("user_id"))
        & (F.col("t_ts") < F.col("ts"))
        & (F.col("t_ts") >= F.col("ts") - F.expr("INTERVAL 7 DAY")),
    )
    w_n = Window.partitionBy("conv_id")
    w_rn = Window.partitionBy("conv_id").orderBy(
        F.desc("t_ts"), F.desc("touch_id")
    )
    scored = cand.select(
        "conv_id",
        "value",
        "channel",
        F.count(F.lit(1)).over(w_n).alias("n_touches"),
        F.row_number().over(w_rn).alias("rn"),
    )
    return scored.groupBy("channel").agg(
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_last_touch"),
        dsum(F.when(F.col("rn") == 1, F.col("value")), "last_touch_value"),
        F.sum(
            F.expr(
                "CAST(round(value * 1000000.0) AS BIGINT) div n_touches"
            )
        )
        .cast("bigint")
        .alias("linear_credit_micro"),
    )


# --------------------------------------------------------------------------
# X12: entry-channel bounce rate — the landing-quality staple: per entry
# event type (the session's first event), how many sessions started
# there and what share ended after that single event. Reuses the
# sessionization fragment (30-min gap, (ts, event_id) order) plus one
# equi-join back to events for the entry type; the rate is exact integer
# micro-units (truncating division), so no float discipline needed.
# --------------------------------------------------------------------------


@query(
    "X12_bounce_rate_by_entry",
    _SESSIONIZE_SQL
    + """
    , entry AS (
        SELECT e.event_type,
               ROW_NUMBER() OVER (
                   PARTITION BY n.user_id, n.session_id
                   ORDER BY n.ts, n.event_id
               ) AS rn,
               COUNT(*) OVER (
                   PARTITION BY n.user_id, n.session_id
               ) AS n_events
        FROM numbered n JOIN events e ON n.event_id = e.event_id
    )
    SELECT event_type AS entry_channel,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bounces,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS bounce_rate_micro
    FROM entry WHERE rn = 1 GROUP BY 1
    """,
)
def bounce_rate_by_entry(spark, sf_dir):
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_us = 30 * 60 * 1_000_000
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(F.lag("ts").over(w).isNull(), 1)
        .when(
            _epoch_us("ts")
            - F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
            > gap_us,
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    numbered = flagged.withColumn(
        "session_id", F.sum("new_session").over(wrun).cast("long")
    )
    ws = Window.partitionBy("user_id", "session_id")
    entry = numbered.select(
        "event_type",
        F.row_number().over(ws.orderBy("ts", "event_id")).alias("rn"),
        F.count(F.lit(1)).over(ws).alias("n_events"),
    ).filter(F.col("rn") == 1)
    bounces = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return entry.groupBy(F.col("event_type").alias("entry_channel")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        bounces.cast("bigint").alias("n_bounces"),
        F.expr(
            "CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1000000"
            " div COUNT(*) AS BIGINT)"
        ).alias("bounce_rate_micro"),
    )


# --------------------------------------------------------------------------
# X12: RFM customer segmentation — the canonical lifecycle scoring
# (Recency / Frequency / Monetary quintiles) over the orders fact:
# per-customer aggregates first (recency = days since epoch of the last
# order — pure integers; frequency = order count; monetary = exact
# DECIMAL revenue), then quintile cutpoints from exact percentile
# interpolation over the CUSTOMER-SIZED aggregate (the A10 contract,
# post-aggregation bounded), assigned with the shuffle-free A25 bucket
# projection (1 + Σ(v > cutpoint), broadcast cutpoints — no ntile, no
# global sort). Ties land deterministically on both engines because the
# comparisons run on identical integers/doubles.
# --------------------------------------------------------------------------

_RFM_QS = [0.2, 0.4, 0.6, 0.8]


def _rfm_bucket(val: str, pfx: str) -> str:
    return "1 + " + " + ".join(
        f"(CASE WHEN {val} > {pfx}{i} THEN 1 ELSE 0 END)" for i in range(1, 5)
    )


@query(
    "X12_rfm_segments",
    f"""
    WITH cust AS (
        SELECT o_custkey,
               date_diff('day', DATE '1970-01-01', MAX(o_orderdate))
                   AS r_days,
               CAST(COUNT(*) AS BIGINT) AS f_cnt,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS m_val
        FROM orders GROUP BY o_custkey
    ), cuts AS (
        SELECT
            {", ".join(f"quantile_cont(r_days, {q}) AS r{i + 1}" for i, q in enumerate(_RFM_QS))},
            {", ".join(f"quantile_cont(f_cnt, {q}) AS f{i + 1}" for i, q in enumerate(_RFM_QS))},
            {", ".join(f"quantile_cont(m_val, {q}) AS m{i + 1}" for i, q in enumerate(_RFM_QS))}
        FROM cust
    )
    SELECT o_custkey,
           CAST({_rfm_bucket("r_days", "r")} AS INTEGER) AS r_score,
           CAST({_rfm_bucket("f_cnt", "f")} AS INTEGER) AS f_score,
           CAST({_rfm_bucket("m_val", "m")} AS INTEGER) AS m_score,
           CAST({_rfm_bucket("r_days", "r")} AS VARCHAR) || '-' ||
           CAST({_rfm_bucket("f_cnt", "f")} AS VARCHAR) || '-' ||
           CAST({_rfm_bucket("m_val", "m")} AS VARCHAR) AS rfm_segment
    FROM cust CROSS JOIN cuts
    """,
)
def rfm_segments(spark, sf_dir):
    from ..operators.scale import percentile_cont_exact

    orders = load(spark, sf_dir, "orders")
    # the per-customer rollup feeds the monetary-cut selection jobs AND
    # the final projection — truncate so it is computed once
    cust = cut_lineage(
        orders.groupBy("o_custkey").agg(
            F.datediff(F.max("o_orderdate"), F.lit("1970-01-01").cast("date"))
            .cast("bigint")
            .alias("r_days"),
            F.count(F.lit(1)).cast("bigint").alias("f_cnt"),
            F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
            .cast("double")
            .alias("m_val"),
        )
    )
    # m_val (a price SUM) is continuous — per customer it is near-unique,
    # so F.percentile's distinct-value buffer was |customer|-bounded on
    # one reducer (guide §5). The scan-bounded selection returns the four
    # cuts bit-identical to percentile_cont; they embed as literals.
    # r_days (day grid) and f_cnt (small counts) are domain-bounded and
    # stay in the one sort-based aggregate — the buffer there is the
    # distinct-value count, a few thousand entries.
    m_cuts = percentile_cont_exact(cust, "m_val", list(_RFM_QS))
    cuts = cust.agg(
        *[
            F.percentile(c, F.lit(q)).alias(f"{p}{i + 1}")
            for p, c in (("r", "r_days"), ("f", "f_cnt"))
            for i, q in enumerate(_RFM_QS)
        ],
        *[
            F.max(F.lit(v).cast("double")).alias(f"m{i + 1}")
            for i, v in enumerate(m_cuts)
        ],
    )
    r_s = F.expr(_rfm_bucket("r_days", "r"))
    f_s = F.expr(_rfm_bucket("f_cnt", "f"))
    m_s = F.expr(_rfm_bucket("m_val", "m"))
    return cust.crossJoin(F.broadcast(cuts)).select(
        "o_custkey",
        r_s.cast("int").alias("r_score"),
        f_s.cast("int").alias("f_score"),
        m_s.cast("int").alias("m_score"),
        F.concat_ws(
            "-",
            r_s.cast("string"),
            f_s.cast("string"),
            m_s.cast("string"),
        ).alias("rfm_segment"),
    )


# --------------------------------------------------------------------------
# X12: first-order event transition matrix — the Markov-chain view of
# user behavior (what follows what): per-user event sequences ordered by
# (ts, event_id), adjacent pairs counted, row-normalized to transition
# probabilities. Probabilities are exact scaled integers
# (n·1e6 div row_total — both operands non-negative, so Spark's
# truncating div and DuckDB's flooring // agree), fully hash-checked.
# Scale shape: the lead() window shuffles once on user_id (bounded
# per-user state), the pair count is one map-side-combinable aggregation
# to |types|² rows, and the row-total join is a broadcast.
# --------------------------------------------------------------------------


@query(
    "X12_event_transition_matrix",
    """
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS next_type
        FROM events
    ),
    tr AS (
        SELECT event_type AS from_type, next_type AS to_type,
               COUNT(*) AS n
        FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
    ),
    rowtot AS (SELECT from_type, SUM(n) AS rn FROM tr GROUP BY 1)
    SELECT t.from_type, t.to_type, CAST(t.n AS BIGINT) AS n,
           CAST((t.n * 1000000) // r.rn AS BIGINT) AS p_micro
    FROM tr t JOIN rowtot r USING (from_type)
    """,
)
def event_transition_matrix(spark, sf_dir):
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    tr = seq.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).alias("n"))
    rowtot = tr.groupBy("from_type").agg(F.sum("n").alias("rn"))
    return tr.join(F.broadcast(rowtot), "from_type").select(
        "from_type",
        "to_type",
        F.col("n").cast("bigint").alias("n"),
        F.expr("CAST((n * 1000000) div rn AS BIGINT)").alias("p_micro"),
    )


# --------------------------------------------------------------------------
# J13: point-in-time feature join — the feature-store correctness staple:
# each observation (a lineitem at its ship date) joins the customer's
# dimension state AS OF that date, never a later one (label leakage).
# The dimension is the W6-style SCD2 order history, deduped to one state
# per (customer, date) — max orderkey wins, matching W6's (date, key)
# order — so the as-of match is unique and deterministic. Spark side
# runs the declared as-of machinery (operators/asof.py: ONE key shuffle,
# one window pass, |L|+|R| cardinality — no interval fan-out join); the
# oracle expresses the same semantics as a ranked interval join.
# --------------------------------------------------------------------------


@query(
    "J13_point_in_time_features",
    """
    WITH obs AS (
        SELECT l.l_orderkey, l.l_linenumber, o.o_custkey,
               l.l_shipdate AS obs_ts
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    states AS (
        SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice
        FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY o_custkey, o_orderdate
                  ORDER BY o_orderkey DESC) AS rn
              FROM orders)
        WHERE rn = 1
    ),
    dobs AS (SELECT DISTINCT * FROM obs),
    best AS (
        SELECT * FROM (
            SELECT d.l_orderkey, d.l_linenumber, d.o_custkey, d.obs_ts,
                   s.o_orderkey AS state_orderkey,
                   s.o_totalprice AS state_totalprice,
                   ROW_NUMBER() OVER (
                       PARTITION BY d.l_orderkey, d.l_linenumber,
                                    d.o_custkey, d.obs_ts
                       ORDER BY s.o_orderdate DESC) AS rn
            FROM dobs d JOIN states s
              ON s.o_custkey = d.o_custkey AND s.o_orderdate <= d.obs_ts
        ) WHERE rn = 1
    )
    -- LEFT join: observations predating every dimension state keep NULL
    -- features (as-of semantics), and exact-duplicate observation rows
    -- (they exist in the fixture) each carry the shared state
    SELECT o.l_orderkey, o.l_linenumber, o.o_custkey, o.obs_ts,
           b.state_orderkey, b.state_totalprice
    FROM obs o LEFT JOIN best b
      USING (l_orderkey, l_linenumber, o_custkey, obs_ts)
    """,
)
def point_in_time_features(spark, sf_dir):
    lineitem, orders = load(spark, sf_dir, "lineitem", "orders")
    obs = lineitem.join(
        orders.select("o_orderkey", "o_custkey"),
        lineitem["l_orderkey"] == orders["o_orderkey"],
    ).select(
        "l_orderkey", "l_linenumber", "o_custkey",
        F.col("l_shipdate").alias("obs_ts"),
    )
    w = Window.partitionBy("o_custkey", "o_orderdate").orderBy(
        F.desc("o_orderkey")
    )
    states = (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey", "o_orderdate",
            F.col("o_orderkey").alias("state_orderkey"),
            F.col("o_totalprice").alias("state_totalprice"),
        )
    )
    from ..operators.asof import asof_join

    out = asof_join(
        obs,
        states,
        left_on="o_custkey",
        right_on="o_custkey",
        left_time="obs_ts",
        right_time="o_orderdate",
        value_cols=["state_orderkey", "state_totalprice"],
        left_cols=["l_orderkey", "l_linenumber", "o_custkey", "obs_ts"],
        direction="backward",
    )
    return out.select(
        "l_orderkey", "l_linenumber", "o_custkey", "obs_ts",
        F.col("asof_state_orderkey").alias("state_orderkey"),
        F.col("asof_state_totalprice").alias("state_totalprice"),
    )


# --------------------------------------------------------------------------
# J14: temporal ANTI-join — the NEGATION of the J7/X10 follow-up shape:
# anchors with NO matching event inside the time band (clicks never
# followed by a purchase within 30 minutes = the abandonment cohort; at
# 100 TB also the "sent but never acknowledged" reconciliation shape).
# Spark plans LEFT ANTI with an equi key (user_id) plus the time-range
# residual as a hash anti-join — the range condition evaluates on the
# co-located pair, no cartesian anywhere. One key shuffle, |L|+|R|.
# --------------------------------------------------------------------------


@query(
    "J14_temporal_anti_join",
    """
    SELECT l.event_id, l.user_id, l.ts, l.value
    FROM events l
    WHERE l.event_type = 'click' AND NOT EXISTS (
        SELECT 1 FROM events r
        WHERE r.event_type = 'purchase'
          AND r.user_id = l.user_id
          AND r.ts >= l.ts
          AND r.ts <= l.ts + INTERVAL 30 MINUTE
    )
    """,
)
def temporal_anti_join(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("r_user_id"), F.col("ts").alias("r_ts")
    )
    return clicks.join(
        purchases,
        (F.col("r_user_id") == F.col("user_id"))
        & (F.col("r_ts") >= F.col("ts"))
        & (F.col("r_ts") <= F.col("ts") + F.expr("INTERVAL 30 MINUTE")),
        "left_anti",
    )


# --------------------------------------------------------------------------
# X21 (cont.): CUPED-adjusted experiment readout (Deng et al., "Improving
# the Sensitivity of Online Controlled Experiments by Utilizing
# Pre-Experiment Data", WSDM 2013) — the standard variance-reduction
# estimator every experimentation platform ships. Assignment is the
# md5-derived deterministic split (the X4_deterministic_split idiom),
# the metric is each user's post-period value total, the covariate their
# pre-period total (both in exact integer cents, the A23 convention),
# theta = cov(X,Y)/var(X) comes from exact decimal moments over ALL
# users with a fixed IEEE tail (two casts, one divide), and the per-arm
# CUPED mean is mean_y - theta * (mean_x_arm - mean_x_global). Scale:
# one per-user agg (map-side combinable), one 2-row variant rollup, one
# broadcast of the 1-row global moments. Output rounds to 6dp.
# --------------------------------------------------------------------------


@query(
    "X21_ab_cuped_adjustment",
    """
    WITH per_user AS (
        SELECT user_id,
               CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                    AS UBIGINT) % 2 AS variant,
               CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
                             THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS x,
               CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                             THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ), g AS (
        SELECT COUNT(*) AS n,
               SUM(CAST(x AS DECIMAL(38,0))) AS sx,
               SUM(CAST(y AS DECIMAL(38,0))) AS sy,
               SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
               SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy
        FROM per_user
    ), v AS (
        SELECT variant, COUNT(*) AS n_users,
               SUM(CAST(x AS DECIMAL(38,0))) AS vsx,
               SUM(CAST(y AS DECIMAL(38,0))) AS vsy
        FROM per_user GROUP BY variant
    )
    SELECT CAST(v.variant AS BIGINT) AS variant,
           CAST(v.n_users AS BIGINT) AS n_users,
           round(CAST(v.vsy AS DOUBLE) / v.n_users, 6) AS mean_y_cents,
           round(CAST(CAST(g.n AS DECIMAL(38,0)) * g.sxy
                      - g.sx * g.sy AS DOUBLE)
                 / CAST(CAST(g.n AS DECIMAL(38,0)) * g.sxx
                        - g.sx * g.sx AS DOUBLE), 6) AS theta,
           round(CAST(v.vsy AS DOUBLE) / v.n_users
                 - (CAST(CAST(g.n AS DECIMAL(38,0)) * g.sxy
                         - g.sx * g.sy AS DOUBLE)
                    / CAST(CAST(g.n AS DECIMAL(38,0)) * g.sxx
                           - g.sx * g.sx AS DOUBLE))
                   * (CAST(v.vsx AS DOUBLE) / v.n_users
                      - CAST(g.sx AS DOUBLE) / g.n), 6) AS mean_y_cuped_cents
    FROM v CROSS JOIN g
    """,
)
def ab_cuped_adjustment(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("bigint")
    cut = F.lit("2024-01-16").cast("timestamp")
    per_user = ev.groupBy(
        "user_id",
        (
            F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
            .cast("long")
            % 2
        ).alias("variant"),
    ).agg(
        F.sum(F.when(F.col("ts") < cut, cents).otherwise(F.lit(0))).alias("x"),
        F.sum(F.when(F.col("ts") >= cut, cents).otherwise(F.lit(0))).alias("y"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    g = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("x")).alias("sx"),
        F.sum(dec("y")).alias("sy"),
        F.sum(dec("x") * F.col("x")).alias("sxx"),
        F.sum(dec("x") * F.col("y")).alias("sxy"),
    )
    v = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(dec("x")).alias("vsx"),
        F.sum(dec("y")).alias("vsy"),
    )
    j = v.crossJoin(F.broadcast(g))
    theta = (dec("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double") / (
        dec("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast("double")
    mean_y = F.col("vsy").cast("double") / F.col("n_users")
    mean_x_arm = F.col("vsx").cast("double") / F.col("n_users")
    mean_x_g = F.col("sx").cast("double") / F.col("n")
    return j.select(
        F.col("variant").cast("bigint").alias("variant"),
        F.col("n_users").cast("bigint").alias("n_users"),
        F.round(mean_y, 6).alias("mean_y_cents"),
        F.round(theta, 6).alias("theta"),
        F.round(mean_y - theta * (mean_x_arm - mean_x_g), 6).alias(
            "mean_y_cuped_cents"
        ),
    )


# --------------------------------------------------------------------------
# X12 (cont.): funnel time-to-convert — the latency companion to
# X12_funnel_conversion's count funnel: for every adjacent stage pair,
# the distribution (median / p90, exact percentiles over integer
# microsecond deltas) of how long converting users took. Same
# shrinking-join stage derivation as the count funnel (each stage's
# first qualifying timestamp at-or-after the previous stage's), then one
# small per-pair aggregate; integer epoch arithmetic keeps deltas exact,
# percentile parity is the A10/DQ5 convention.
# --------------------------------------------------------------------------


@query(
    "X12_funnel_time_to_convert",
    """
    WITH s1 AS (
        SELECT user_id, MIN(ts) AS t FROM events
        WHERE event_type = 'signup' GROUP BY user_id
    ), s2 AS (
        SELECT e.user_id, MIN(e.ts) AS t FROM events e
        JOIN s1 ON e.user_id = s1.user_id AND e.ts >= s1.t
        WHERE e.event_type = 'view' GROUP BY e.user_id
    ), s3 AS (
        SELECT e.user_id, MIN(e.ts) AS t FROM events e
        JOIN s2 ON e.user_id = s2.user_id AND e.ts >= s2.t
        WHERE e.event_type = 'click' GROUP BY e.user_id
    ), s4 AS (
        SELECT e.user_id, MIN(e.ts) AS t FROM events e
        JOIN s3 ON e.user_id = s3.user_id AND e.ts >= s3.t
        WHERE e.event_type = 'purchase' GROUP BY e.user_id
    ), deltas AS (
        SELECT 'signup->view' AS pair, 1 AS pair_idx,
               epoch_us(s2.t) - epoch_us(s1.t) AS d_us
        FROM s2 JOIN s1 USING (user_id)
        UNION ALL
        SELECT 'view->click', 2, epoch_us(s3.t) - epoch_us(s2.t)
        FROM s3 JOIN s2 USING (user_id)
        UNION ALL
        SELECT 'click->purchase', 3, epoch_us(s4.t) - epoch_us(s3.t)
        FROM s4 JOIN s3 USING (user_id)
    )
    SELECT pair, pair_idx, COUNT(*) AS n_converted,
           round(percentile_cont(0.5) WITHIN GROUP (ORDER BY d_us), 6)
               AS median_us,
           round(percentile_cont(0.9) WITHIN GROUP (ORDER BY d_us), 6)
               AS p90_us,
           CAST(MIN(d_us) AS BIGINT) AS min_us,
           CAST(MAX(d_us) AS BIGINT) AS max_us
    FROM deltas GROUP BY pair, pair_idx
    """,
)
def funnel_time_to_convert(spark, sf_dir):
    from ..operators.funnel import funnel_stage_times

    ev = load(spark, sf_dir, "events")
    stages = [
        # each stage table feeds TWO consumers (its own pair delta and the
        # next stage's at-or-after gate) — truncate so the shrinking-join
        # chain computes each stage once (the semdedup/census pattern)
        cut_lineage(s)
        for s in funnel_stage_times(ev, ["signup", "view", "click", "purchase"])
    ]
    pairs = []
    names = ["signup", "view", "click", "purchase"]
    for i in range(1, len(names)):
        a = stages[i - 1].select(
            "user_id", F.col("t").alias("ta")
        )
        b = stages[i].select("user_id", F.col("t").alias("tb"))
        pairs.append(
            b.join(a, "user_id").select(
                F.lit(f"{names[i - 1]}->{names[i]}").alias("pair"),
                F.lit(i).cast("int").alias("pair_idx"),
                (
                    F.unix_micros(F.col("tb").cast("timestamp"))
                    - F.unix_micros(F.col("ta").cast("timestamp"))
                ).alias("d_us"),
            )
        )
    from functools import reduce

    from ..operators.scale import case_by_group, percentile_cont_exact_grouped

    # conversion deltas are microsecond-granular — near-continuous, so
    # the per-pair F.percentile buffer was row-bounded (guide §5). The
    # scan-bounded selection returns the 3×2 quantiles bit-identical to
    # percentile_cont; the delta union is lineage-truncated so the two
    # selection jobs and the final rollup share one computation of the
    # stage-join chain.
    deltas = cut_lineage(reduce(lambda x, y: x.unionByName(y), pairs))
    qs = percentile_cont_exact_grouped(deltas, "pair", "d_us", [0.5, 0.9])

    def q_expr(i):
        return case_by_group("pair", {g: v[i] for g, v in qs.items()})

    return (
        deltas.groupBy("pair", "pair_idx")
        .agg(
            F.count(F.lit(1)).alias("n_converted"),
            F.min("d_us").cast("bigint").alias("min_us"),
            F.max("d_us").cast("bigint").alias("max_us"),
        )
        .select(
            "pair",
            "pair_idx",
            "n_converted",
            F.round(q_expr(0), 6).alias("median_us"),
            F.round(q_expr(1), 6).alias("p90_us"),
            "min_us",
            "max_us",
        )
    )


# --------------------------------------------------------------------------
# X13: additive HOLT-WINTERS (level + trend + day-of-week seasonality) —
# the seasonal upgrade of X13_holt_linear_per_user, same cross-engine
# trick: both engines FOLD the ordered daily series with the identical
# IEEE expression tree (Spark `aggregate` ≡ DuckDB `list_reduce`), so a
# genuinely recursive state-space fit is hash-checked, now with a 9-wide
# state vector [level, trend, s0..s6] and an in-lambda seasonal-slot
# rebuild. Init: level = first obs, trend = (v8-v1)/7, seasonal = first
# week's deviations; α=0.5, β=0.3, γ=0.4. Season index = epoch-day % 7
# (engine-neutral — no dayofweek() convention mismatch). Per-type daily
# series are bounded (days × types), so the fold state is tiny; the
# heavy lifting — the daily rollup — is one partial-agg pass. Forecast
# = level + trend + seasonal[next day's slot].
# --------------------------------------------------------------------------


@query(
    "X13_holt_winters_seasonal",
    """
    WITH s AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS x,
               CAST(CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS INT) % 7
                    AS DOUBLE) AS jd
        FROM events GROUP BY 1, 2, 4
    ), l AS (
        SELECT event_type, list([x, jd] ORDER BY d) AS v,
               MAX(d) AS last_d, COUNT(*) AS n_days
        FROM s GROUP BY 1
    ), init AS (
        SELECT event_type, v, n_days, last_d,
               v[1][1] AS lvl0,
               CASE WHEN len(v) >= 8 THEN (v[8][1] - v[1][1]) / 7
                    ELSE 0.0 END AS tr0,
               [COALESCE(list_filter(v[1:7],
                             e -> e[2] = CAST(j AS DOUBLE))[1][1] - v[1][1],
                         0.0) for j in range(0, 7)] AS s0
        FROM l
    ), fit AS (
        SELECT event_type, n_days, last_d,
            list_reduce(
                list_prepend(list_concat([lvl0, tr0], s0), v[8:]),
                (acc, e) -> list_concat(
                    [0.5 * (e[1] - acc[3 + CAST(e[2] AS INT)])
                         + 0.5 * (acc[1] + acc[2]),
                     0.3 * ((0.5 * (e[1] - acc[3 + CAST(e[2] AS INT)])
                             + 0.5 * (acc[1] + acc[2])) - acc[1])
                         + 0.7 * acc[2]],
                    [CASE WHEN k = CAST(e[2] AS INT)
                          THEN 0.4 * (e[1]
                               - (0.5 * (e[1] - acc[3 + CAST(e[2] AS INT)])
                                  + 0.5 * (acc[1] + acc[2])))
                               + 0.6 * acc[3 + CAST(e[2] AS INT)]
                          ELSE acc[3 + k] END
                     for k in range(0, 7)])
            ) AS st
        FROM init
    )
    SELECT event_type, n_days,
           round(st[1], 6) AS level, round(st[2], 6) AS trend,
           round(st[1] + st[2]
                 + st[3 + (CAST(last_d - DATE '1970-01-01' AS INT) + 1) % 7],
                 6) AS forecast_1
    FROM fit
    """,
)
def holt_winters_seasonal(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.col("ts").cast("date").alias("d"),
        (F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01"))
         % 7).cast("double").alias("jd"),
    ).agg(
        F.sum(F.col("value").cast("decimal(38,6)"))
        .cast("double")
        .alias("x")
    )
    per_type = daily.groupBy("event_type").agg(
        F.collect_list(F.struct("d", "x", "jd")).alias("raw"),
        F.max("d").alias("last_d"),
        F.count(F.lit(1)).alias("n_days"),
    )
    v = "transform(sort_array(raw), s -> array(s.x, s.jd))"
    lvl0 = f"element_at(element_at({v}, 1), 1)"
    tr0 = (
        f"CASE WHEN size({v}) >= 8 THEN"
        f" (element_at(element_at({v}, 8), 1) - {lvl0}) / 7"
        f" ELSE 0D END"
    )
    s0 = (
        f"transform(sequence(0, 6), j -> CASE WHEN"
        f" size(filter(slice({v}, 1, 7),"
        f"      e -> element_at(e, 2) = cast(j as double))) > 0"
        f" THEN element_at(element_at(filter(slice({v}, 1, 7),"
        f"      e -> element_at(e, 2) = cast(j as double)), 1), 1) - {lvl0}"
        f" ELSE 0D END)"
    )
    acc_s = "element_at(acc, 3 + cast(element_at(e, 2) as int))"
    lvl1 = (
        f"0.5D * (element_at(e, 1) - {acc_s})"
        f" + 0.5D * (element_at(acc, 1) + element_at(acc, 2))"
    )
    tr1 = (
        f"0.3D * (({lvl1}) - element_at(acc, 1))"
        f" + 0.7D * element_at(acc, 2)"
    )
    s1 = f"0.4D * (element_at(e, 1) - ({lvl1})) + 0.6D * {acc_s}"
    st = (
        f"aggregate(slice({v}, 8, greatest(size({v}) - 7, 0)),"
        f" concat(array({lvl0}, {tr0}), {s0}),"
        f" (acc, e) -> concat(array({lvl1}, {tr1}),"
        f"   transform(sequence(0, 6),"
        f"     k -> CASE WHEN k = cast(element_at(e, 2) as int)"
        f"          THEN {s1} ELSE element_at(acc, 3 + k) END)))"
    )
    fc_idx = "3 + (datediff(last_d, DATE '1970-01-01') + 1) % 7"
    return per_type.select(
        "event_type",
        "n_days",
        F.expr(f"round(element_at(({st}), 1), 6)").alias("level"),
        F.expr(f"round(element_at(({st}), 2), 6)").alias("trend"),
        F.expr(
            f"round(element_at(({st}), 1) + element_at(({st}), 2)"
            f" + element_at(({st}), {fc_idx}), 6)"
        ).alias("forecast_1"),
    )
