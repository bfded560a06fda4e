"""Data-quality declared queries (operators/quality.py): column profiling
and constraint gating over the fact tables — the validate-before-publish
step of an ETL pipeline, oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.quality import Constraint, check_constraints, profile
from ..session import cut_lineage
from .common import load, query

# --------------------------------------------------------------------------
# DQ1: one-pass column profile of orders (exact-distinct form so DuckDB
# can mirror it; the HLL form is the declared-by-design approximate path,
# see A9).
# --------------------------------------------------------------------------


@query(
    "DQ1_profile_orders",
    """
    WITH t AS (SELECT COUNT(*) AS n_rows FROM orders)
    SELECT * FROM (
        SELECT 'o_orderkey' AS column, t.n_rows,
               t.n_rows - COUNT(o_orderkey) AS n_null,
               COUNT(DISTINCT o_orderkey) AS n_distinct,
               CAST(MIN(o_orderkey) AS DOUBLE) AS min_value,
               CAST(MAX(o_orderkey) AS DOUBLE) AS max_value,
               CAST(AVG(o_orderkey) AS DOUBLE) AS mean_value
        FROM orders, t GROUP BY t.n_rows
        UNION ALL
        SELECT 'o_totalprice', t.n_rows, t.n_rows - COUNT(o_totalprice),
               COUNT(DISTINCT o_totalprice),
               CAST(MIN(o_totalprice) AS DOUBLE),
               CAST(MAX(o_totalprice) AS DOUBLE),
               CAST(AVG(o_totalprice) AS DOUBLE)
        FROM orders, t GROUP BY t.n_rows
        UNION ALL
        SELECT 'o_orderstatus', t.n_rows, t.n_rows - COUNT(o_orderstatus),
               COUNT(DISTINCT o_orderstatus),
               CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
        FROM orders, t GROUP BY t.n_rows
    )
    """,
)
def profile_orders(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    return profile(
        orders,
        columns=["o_orderkey", "o_totalprice", "o_orderstatus"],
        exact_distinct=True,
    )


# --------------------------------------------------------------------------
# DQ2: constraint gate over lineitem — per-rule violation counts in one
# pass. Includes one deliberately failing rule so the query is
# non-vacuous in both directions (passing and failing rules).
# --------------------------------------------------------------------------


@query(
    "DQ2_constraints_lineitem",
    """
    SELECT * FROM (
        SELECT 'quantity_positive' AS constraint, COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN NOT (l_quantity > 0) OR l_quantity IS NULL
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
               CAST(SUM(CASE WHEN NOT (l_quantity > 0) OR l_quantity IS NULL
                        THEN 1 ELSE 0 END) AS BIGINT) = 0 AS passed
        FROM lineitem
        UNION ALL
        SELECT 'discount_in_unit_range', COUNT(*),
               CAST(SUM(CASE WHEN NOT (l_discount BETWEEN 0 AND 1)
                             OR l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN NOT (l_discount BETWEEN 0 AND 1)
                             OR l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT) = 0
        FROM lineitem
        UNION ALL
        SELECT 'price_over_10000', COUNT(*),
               CAST(SUM(CASE WHEN NOT (l_extendedprice > 10000)
                             OR l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN NOT (l_extendedprice > 10000)
                             OR l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) = 0
        FROM lineitem
    )
    """,
)
def constraints_lineitem(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return check_constraints(
        li,
        [
            Constraint("quantity_positive", F.col("l_quantity") > 0),
            Constraint(
                "discount_in_unit_range", F.col("l_discount").between(0, 1)
            ),
            # deliberately violated on the fixture: exercises the failing path
            Constraint("price_over_10000", F.col("l_extendedprice") > 10000),
        ],
    )


# --------------------------------------------------------------------------
# DQ3: Benford first-digit profile — the classic anomaly screen for
# invented numeric data. Digit extraction is pure string/int arithmetic
# (identical on both engines); the observed share is one int/int double
# division. A synthetic-uniform fixture won't FOLLOW Benford — the query
# reports the profile, it doesn't assert the law.
# --------------------------------------------------------------------------


@query(
    "DQ3_benford_first_digit",
    """
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                    AS BIGINT) AS first_digit
        FROM orders WHERE o_totalprice >= 1
    )
    SELECT first_digit, COUNT(*) AS n,
           CAST(COUNT(*) AS DOUBLE)
           / CAST(SUM(COUNT(*)) OVER () AS DOUBLE) AS observed_share
    FROM digits GROUP BY first_digit
    """,
)
def benford_first_digit(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    digits = orders.filter(F.col("o_totalprice") >= 1).select(
        F.substring(
            F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
        )
        .cast("bigint")
        .alias("first_digit")
    )
    counts = digits.groupBy("first_digit").agg(F.count(F.lit(1)).alias("n"))
    # grand total as a broadcast 1-row cross join, not a window with an
    # empty partition spec (single-task node class fenced by the audit)
    total = counts.agg(F.sum("n").alias("_t"))
    return counts.crossJoin(F.broadcast(total)).select(
        "first_digit",
        "n",
        (F.col("n").cast("double") / F.col("_t").cast("double")).alias(
            "observed_share"
        ),
    )


# --------------------------------------------------------------------------
# DQ5: robust outlier flags — rows beyond k·MAD of their group median,
# the screen that survives the very outliers it hunts (stddev-based
# z-scores explode under contamination; medians don't). Two exact
# medians per group (A21's machinery) then a row-local comparison; the
# output lists only the flagged rows, keyed deterministically.
# --------------------------------------------------------------------------


@query(
    "DQ5_mad_outliers",
    """
    WITH med AS (
        SELECT l_returnflag,
               percentile_cont(0.5) WITHIN GROUP (ORDER BY l_extendedprice)
                   AS m
        FROM lineitem GROUP BY l_returnflag
    ), dev AS (
        SELECT l.l_returnflag,
               percentile_cont(0.5) WITHIN GROUP
                   (ORDER BY abs(l.l_extendedprice - med.m)) AS mad
        FROM lineitem l JOIN med ON l.l_returnflag = med.l_returnflag
        GROUP BY l.l_returnflag
    )
    SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag, l.l_extendedprice
    FROM lineitem l
    JOIN med ON l.l_returnflag = med.l_returnflag
    JOIN dev ON l.l_returnflag = dev.l_returnflag
    WHERE abs(l.l_extendedprice - med.m) > 1.8 * dev.mad
    """,
)
def mad_outliers(spark, sf_dir):
    from ..operators.scale import case_by_group, percentile_cont_exact_grouped

    li = load(spark, sf_dir, "lineitem")
    # Grouped medians via histogram-refinement selection instead of the
    # sort-based F.percentile aggregate: the price (and deviation) column
    # is near-continuous, so the aggregate's per-group distinct-value
    # buffer is row-bounded and single-reducer-merged (guide §5); the
    # selection is bit-identical to percentile_cont (r12, pinned by
    # tests/test_scale.py) and scan-bounded. r12 reverted this because
    # the helper then paid ~6 fixed-latency driver jobs; the r13 helper
    # pays ≤ 2 per call (log-bucket histogram + pick), which removes the
    # fixture-scale penalty that motivated the revert. The 3-entry group
    # maps come back as literal CASE branches — same bounded-model-
    # collect contract as exact_quantiles_twopass.
    med = percentile_cont_exact_grouped(
        li, "l_returnflag", "l_extendedprice", [0.5]
    )
    m_expr = case_by_group("l_returnflag", {g: v for g, (v,) in med.items()})
    dev_df = li.select(
        "l_returnflag",
        F.abs(F.col("l_extendedprice") - m_expr).alias("dev"),
    )
    mad = percentile_cont_exact_grouped(dev_df, "l_returnflag", "dev", [0.5])
    mad_expr = case_by_group("l_returnflag", {g: v for g, (v,) in mad.items()})
    return (
        li.withColumn("m", m_expr)
        .withColumn("mad", mad_expr)
        .filter(
            F.abs(F.col("l_extendedprice") - F.col("m"))
            > 1.8 * F.col("mad")
        )
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice")
    )


# --------------------------------------------------------------------------
# DQ6: referential-integrity audit — per-FK orphan counts via LEFT ANTI
# joins (broadcast for dim keys, one key shuffle for fact→fact). The last
# relation (customer→events "every customer has activity") deliberately
# fails so the audit is non-vacuous in both directions, same convention as
# DQ2's failing rule.
# --------------------------------------------------------------------------


@query(
    "DQ6_referential_integrity",
    """
    SELECT relation, n_checked, n_orphans, n_orphans = 0 AS passed
    FROM (
        SELECT 'orders.o_custkey->customer.c_custkey' AS relation,
               (SELECT COUNT(*) FROM orders WHERE o_custkey IS NOT NULL)
                   AS n_checked,
               (SELECT COUNT(*) FROM orders o WHERE o_custkey IS NOT NULL
                  AND NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = o.o_custkey))
                   AS n_orphans
        UNION ALL
        SELECT 'lineitem.l_orderkey->orders.o_orderkey',
               (SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NOT NULL),
               (SELECT COUNT(*) FROM lineitem l WHERE l_orderkey IS NOT NULL
                  AND NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_orderkey = l.l_orderkey))
        UNION ALL
        SELECT 'lineitem.l_partkey->part.p_partkey',
               (SELECT COUNT(*) FROM lineitem WHERE l_partkey IS NOT NULL),
               (SELECT COUNT(*) FROM lineitem l WHERE l_partkey IS NOT NULL
                  AND NOT EXISTS (SELECT 1 FROM part p
                                  WHERE p.p_partkey = l.l_partkey))
        UNION ALL
        SELECT 'events.user_id->customer.c_custkey',
               (SELECT COUNT(*) FROM events WHERE user_id IS NOT NULL),
               (SELECT COUNT(*) FROM events e WHERE user_id IS NOT NULL
                  AND NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = e.user_id))
        UNION ALL
        SELECT 'customer.c_custkey->events.user_id',
               (SELECT COUNT(*) FROM customer WHERE c_custkey IS NOT NULL),
               (SELECT COUNT(*) FROM customer c WHERE c_custkey IS NOT NULL
                  AND NOT EXISTS (SELECT 1 FROM events e
                                  WHERE e.user_id = c.c_custkey))
    ) rels
    """,
)
def referential_integrity_audit(spark, sf_dir):
    from ..operators.quality import ForeignKey, referential_integrity

    orders, customer, lineitem, part, events = load(
        spark, sf_dir, "orders", "customer", "lineitem", "part", "events"
    )
    return referential_integrity(
        [
            ForeignKey("orders.o_custkey->customer.c_custkey",
                       orders, "o_custkey", customer, "c_custkey"),
            ForeignKey("lineitem.l_orderkey->orders.o_orderkey",
                       lineitem, "l_orderkey", orders, "o_orderkey"),
            ForeignKey("lineitem.l_partkey->part.p_partkey",
                       lineitem, "l_partkey", part, "p_partkey"),
            ForeignKey("events.user_id->customer.c_custkey",
                       events, "user_id", customer, "c_custkey"),
            ForeignKey("customer.c_custkey->events.user_id",
                       customer, "c_custkey", events, "user_id"),
        ]
    )


# --------------------------------------------------------------------------
# DQ7: uniqueness audit — the table-level constraint class DQ2's
# row-level predicates can't express. Includes a deliberately failing
# check (documents.text is NOT unique — the fixture plants exact
# duplicates for X1) so the audit is non-vacuous in both directions.
# NOTE: count_distinct here is EXACT (it feeds a gate); the approx form
# is A9's territory.
# --------------------------------------------------------------------------


@query(
    "DQ7_uniqueness_audit",
    """
    SELECT 'orders.o_orderkey' AS key,
           (SELECT COUNT(*) FROM orders) AS n_rows,
           (SELECT COUNT(*) FROM
               (SELECT DISTINCT o_orderkey FROM orders)) AS n_distinct,
           (SELECT COUNT(*) FROM orders)
             - (SELECT COUNT(*) FROM
                 (SELECT DISTINCT o_orderkey FROM orders)) AS n_dup_rows,
           (SELECT COUNT(*) FROM orders)
             = (SELECT COUNT(*) FROM
                 (SELECT DISTINCT o_orderkey FROM orders)) AS passed
    UNION ALL
    SELECT 'lineitem.(l_orderkey,l_linenumber)',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM
               (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)),
           (SELECT COUNT(*) FROM lineitem)
             - (SELECT COUNT(*) FROM
                 (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)),
           (SELECT COUNT(*) FROM lineitem)
             = (SELECT COUNT(*) FROM
                 (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem))
    UNION ALL
    SELECT 'events.event_id',
           (SELECT COUNT(*) FROM events),
           (SELECT COUNT(*) FROM
               (SELECT DISTINCT event_id FROM events)),
           (SELECT COUNT(*) FROM events)
             - (SELECT COUNT(*) FROM
                 (SELECT DISTINCT event_id FROM events)),
           (SELECT COUNT(*) FROM events)
             = (SELECT COUNT(*) FROM
                 (SELECT DISTINCT event_id FROM events))
    UNION ALL
    SELECT 'documents.text',
           (SELECT COUNT(*) FROM documents),
           (SELECT COUNT(*) FROM
               (SELECT DISTINCT text FROM documents)),
           (SELECT COUNT(*) FROM documents)
             - (SELECT COUNT(*) FROM
                 (SELECT DISTINCT text FROM documents)),
           (SELECT COUNT(*) FROM documents)
             = (SELECT COUNT(*) FROM
                 (SELECT DISTINCT text FROM documents))
    """,
)
def uniqueness_audit(spark, sf_dir):
    from ..operators.quality import check_uniqueness

    orders, lineitem, events, documents = load(
        spark, sf_dir, "orders", "lineitem", "events", "documents"
    )
    return check_uniqueness(
        [
            ("orders.o_orderkey", orders, ["o_orderkey"]),
            (
                "lineitem.(l_orderkey,l_linenumber)",
                lineitem,
                ["l_orderkey", "l_linenumber"],
            ),
            ("events.event_id", events, ["event_id"]),
            ("documents.text", documents, ["text"]),
        ]
    )


# --------------------------------------------------------------------------
# DQ8: ingest-volume drift — the day-over-day row-count anomaly gate every
# production feed needs (a silently half-empty day is the most common
# upstream failure mode, and no row-level constraint can see it). The
# z-score uses a trailing 7-day window EXCLUDING the current day, and the
# moment statistics are assembled from exact integer sums (n, Σn, Σn²)
# with the variance expanded manually — both engines then execute the
# identical double-precision expression tree, so the rounded z-score is
# bit-stable (builtin stddev_samp would leave the accumulation order to
# the engine). Days without a full 7-day history emit no verdict.
# --------------------------------------------------------------------------

_DQ8_Z = (
    "round((n - s / m) / sqrt((ss - (s * s) / m) / (m - 1)), 6)"
)


@query(
    "DQ8_volume_drift",
    f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n
      FROM events GROUP BY 1
    ), w AS (
      SELECT day, n,
             COUNT(*) OVER win AS m,
             SUM(n) OVER win AS s,
             SUM(n * n) OVER win AS ss
      FROM daily
      WINDOW win AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT day, n AS n_events, {_DQ8_Z} AS zscore,
           abs({_DQ8_Z}) > 2.0 AS is_anomaly
    FROM w WHERE m = 7
    """,
)
def volume_drift(spark, sf_dir):
    from pyspark.sql import Window

    events = load(spark, sf_dir, "events")
    daily = events.groupBy(
        F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    win = Window.orderBy("day").rowsBetween(-7, -1)
    w = daily.select(
        "day",
        "n",
        F.count(F.lit(1)).over(win).alias("m"),
        F.sum("n").over(win).alias("s"),
        F.sum(F.col("n") * F.col("n")).over(win).alias("ss"),
    )
    z = F.expr(_DQ8_Z)
    return (
        w.filter(F.col("m") == 7)
        .select(
            "day",
            F.col("n").alias("n_events"),
            z.alias("zscore"),
            (F.abs(z) > 2.0).alias("is_anomaly"),
        )
    )


# --------------------------------------------------------------------------
# DQ9: freshness audit — data staleness, the third leg of the feed-health
# triad (DQ8 volume, DQ6/7 integrity, DQ9 recency). Each feed's newest
# event date is compared against the pipeline's as-of date (a config
# literal here — in production, current_date at the orchestrator); lag
# beyond the feed's SLA flags stale. Pure MAX aggregates — one scan per
# feed, only dates cross to the driver. The fixture anchors make both a
# passing feed (events, 2 days stale vs a 7-day SLA) and failing feeds
# (the TPC-H dates vs any recent anchor) so the audit is non-vacuous in
# both directions.
# --------------------------------------------------------------------------


@query(
    "DQ9_freshness_audit",
    """
    SELECT 'events.ts' AS feed,
           CAST(MAX(CAST(ts AS DATE)) AS DATE) AS max_date,
           date_diff('day', MAX(CAST(ts AS DATE)), DATE '2024-02-01')
               AS lag_days,
           date_diff('day', MAX(CAST(ts AS DATE)), DATE '2024-02-01') <= 7
               AS fresh
    FROM events
    UNION ALL
    SELECT 'orders.o_orderdate',
           CAST(MAX(CAST(o_orderdate AS DATE)) AS DATE),
           date_diff('day', MAX(CAST(o_orderdate AS DATE)), DATE '2024-02-01'),
           date_diff('day', MAX(CAST(o_orderdate AS DATE)), DATE '2024-02-01')
               <= 7
    FROM orders
    UNION ALL
    SELECT 'lineitem.l_shipdate',
           CAST(MAX(CAST(l_shipdate AS DATE)) AS DATE),
           date_diff('day', MAX(CAST(l_shipdate AS DATE)), DATE '2024-02-01'),
           date_diff('day', MAX(CAST(l_shipdate AS DATE)), DATE '2024-02-01')
               <= 7
    FROM lineitem
    """,
)
def freshness_audit(spark, sf_dir):
    asof = "DATE '2024-02-01'"
    parts = []
    for feed, table, col in [
        ("events.ts", "events", "ts"),
        ("orders.o_orderdate", "orders", "o_orderdate"),
        ("lineitem.l_shipdate", "lineitem", "l_shipdate"),
    ]:
        t = load(spark, sf_dir, table)
        parts.append(
            t.agg(F.max(F.col(col).cast("date")).alias("max_date")).select(
                F.lit(feed).alias("feed"),
                "max_date",
                F.datediff(F.expr(asof), F.col("max_date")).cast("bigint").alias(
                    "lag_days"
                ),
                (
                    F.datediff(F.expr(asof), F.col("max_date")) <= 7
                ).alias("fresh"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --------------------------------------------------------------------------
# DQ10: distribution drift via Population Stability Index — the standard
# feature-monitoring metric (banking/scorecard lineage) that DQ8's volume
# z-score cannot see: the row COUNT can be perfectly normal while the
# VALUE distribution silently shifts (an upstream unit change, a new
# client version, a schema default leaking through). PSI compares the
# per-bin population shares of a current window against a baseline
# window over baseline-decile bins:
#
#     PSI = Σ_bins (p_cur − p_base) · ln(p_cur / p_base)
#
# with add-½ Laplace smoothing so empty bins stay finite. > 0.2 is the
# conventional "significant shift" gate.
#
# Windows: the event history's distinct days split into halves by
# NTILE(2) (exact, tie-free on distinct days, engine-portable); baseline
# deciles per event_type come from exact percentile interpolation (the
# A10 contract) and bucket assignment is the shuffle-free A25 pattern
# (1 + Σ(value > cutpoint) in the scan projection, cutpoints broadcast).
#
# Determinism: bin counts are integers, shares are single IEEE divisions,
# each bin's PSI term is fixed-pointed once (round(term·1e6) as BIGINT),
# and the per-type sum is exact integer arithmetic — the X4 LM-scoring
# contract. Scale: two scans (baseline stats, bucket counts), all
# aggregations vocabulary-of-bins-sized, no window over raw events.
# --------------------------------------------------------------------------

_DQ10_BINS = 10
_DQ10_CUTS = [i / 10 for i in range(1, 10)]


# Shares forced to DOUBLE on both engines: Spark parses `cc + 0.5` as
# DECIMAL arithmetic (scale-rounded at each step) while DuckDB widens to
# DOUBLE — the same expression text silently computes different numbers
# (caught by the oracle as an off-by-one psi_micro). One shared fragment,
# explicit CASTs, identical IEEE expression tree on both sides.
_DQ10_PC = "((CAST(cc AS DOUBLE) + 0.5) / (CAST(nc AS DOUBLE) + 5.0))"
_DQ10_PB = "((CAST(cb AS DOUBLE) + 0.5) / (CAST(nb AS DOUBLE) + 5.0))"
_DQ10_TERM = (
    f"CAST(round(({_DQ10_PC} - {_DQ10_PB})"
    f" * ln({_DQ10_PC} / {_DQ10_PB}) * 1000000.0) AS BIGINT)"
)


def _dq10_bucket_sql(val: str, pfx: str) -> str:
    return "1 + " + " + ".join(
        f"(CASE WHEN {val} > {pfx}c{i} THEN 1 ELSE 0 END)"
        for i in range(1, 10)
    )


@query(
    "DQ10_psi_value_drift",
    f"""
    WITH days AS (
        SELECT day, NTILE(2) OVER (ORDER BY day) AS half
        FROM (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events)
    ), ev AS (
        SELECT e.event_type, e.value, d.half
        FROM events e JOIN days d ON CAST(e.ts AS DATE) = d.day
    ), cuts AS (
        SELECT event_type,
               {", ".join(f"quantile_cont(value, {q}) AS c{i + 1}"
                          for i, q in enumerate(_DQ10_CUTS))}
        FROM ev WHERE half = 1 GROUP BY event_type
    ), bucketed AS (
        SELECT ev.event_type, ev.half,
               {_dq10_bucket_sql("ev.value", "cuts.")} AS bin
        FROM ev JOIN cuts USING (event_type)
    ), bins AS (
        SELECT c.event_type, b.bin
        FROM (SELECT DISTINCT event_type FROM cuts) c,
             generate_series(1, {_DQ10_BINS}) b(bin)
    ), counts AS (
        SELECT bins.event_type, bins.bin,
               CAST(COALESCE(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END), 0)
                    AS BIGINT) AS cb,
               CAST(COALESCE(SUM(CASE WHEN half = 2 THEN 1 ELSE 0 END), 0)
                    AS BIGINT) AS cc
        FROM bins LEFT JOIN bucketed
          ON bins.event_type = bucketed.event_type AND bins.bin = bucketed.bin
        GROUP BY 1, 2
    ), tot AS (
        SELECT event_type, SUM(cb) AS nb, SUM(cc) AS nc FROM counts GROUP BY 1
    ), terms AS (
        SELECT counts.event_type, {_DQ10_TERM} AS term_micro
        FROM counts JOIN tot USING (event_type)
    )
    SELECT event_type, CAST(SUM(term_micro) AS BIGINT) AS psi_micro,
           SUM(term_micro) > 200000 AS drifted
    FROM terms GROUP BY event_type
    """,
)
def psi_value_drift(spark, sf_dir):
    ev_raw = load(spark, sf_dir, "events")
    days = (
        ev_raw.select(F.col("ts").cast("date").alias("day"))
        .distinct()
        .select(
            "day",
            F.ntile(2).over(__import__("pyspark.sql.window", fromlist=["Window"]).Window.orderBy("day")).alias("half"),
        )
    )
    # truncate the (events ⋈ day-halves) lineage: the cut-selection jobs
    # below and the final binning rollup would otherwise each re-run the
    # scan + day-ntile join
    ev = cut_lineage(
        ev_raw.select(
            "event_type", "value", F.col("ts").cast("date").alias("day")
        ).join(F.broadcast(days), "day")
    )
    # Baseline-half deciles via the scan-bounded selection
    # (percentile_cont_exact_grouped, bit-identical to the F.percentile
    # aggregate — r12/r13, guide §5): `value` is continuous, so the
    # aggregate's per-event_type distinct-value buffer was row-bounded
    # and single-reducer-merged. The |event_type|×9 cut map comes back
    # as literal CASE columns (bounded-model collect), which also
    # retires the eager checkpoint + broadcast join the old cuts table
    # needed (this query previously spent 16 shuffles, then 1 broadcast
    # + checkpoint; now the cuts are plain literals in the projection).
    from ..operators.scale import case_by_group, percentile_cont_exact_grouped

    cuts_map = percentile_cont_exact_grouped(
        ev.filter(F.col("half") == 1), "event_type", "value", list(_DQ10_CUTS)
    )
    # an event type whose baseline values are all NULL stays, with NULL
    # cuts (every row lands in bin 1) — the SQL's inner join keeps it too
    etypes = sorted(cuts_map)

    def cut_col(i):
        return case_by_group("event_type", {g: c[i] for g, c in cuts_map.items()})

    # the old shape inner-joined cuts, keeping only event types present
    # in the baseline half — replicate with a literal membership filter
    bucketed = (
        ev.filter(F.col("event_type").isin(etypes))
        .select(
            "event_type",
            "half",
            "value",
            *[cut_col(i).alias(f"c{i + 1}") for i in range(len(_DQ10_CUTS))],
        )
        .select(
            "event_type",
            "half",
            F.expr(_dq10_bucket_sql("value", "")).alias("bin"),
        )
    )
    # aggregate BEFORE the bin-axis join: the old shape shuffled raw
    # corpus rows on (event_type, bin) through a left join with no
    # map-side combine — a full-corpus shuffle at 100 TB; this one
    # partial-aggregates to |event_type|×bins rows first
    cnt = bucketed.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("cb"),
        F.sum(F.when(F.col("half") == 2, 1).otherwise(0)).alias("cc"),
    )
    bins = spark.createDataFrame(
        [(g,) for g in etypes], "event_type string"
    ).crossJoin(
        spark.range(1, _DQ10_BINS + 1).select(F.col("id").cast("int").alias("bin"))
    )
    counts = cut_lineage(  # |event_type|×bins rows, read twice
        bins.join(cnt, ["event_type", "bin"], "left").select(
            "event_type",
            "bin",
            F.coalesce("cb", F.lit(0)).alias("cb"),
            F.coalesce("cc", F.lit(0)).alias("cc"),
        ),
        eager=True,
    )
    tot = counts.groupBy("event_type").agg(
        F.sum("cb").alias("nb"), F.sum("cc").alias("nc")
    )
    terms = counts.join(F.broadcast(tot), "event_type").select(
        "event_type",
        F.expr(_DQ10_TERM).alias("term_micro"),
    )
    return terms.groupBy("event_type").agg(
        F.sum("term_micro").alias("psi_micro"),
        (F.sum("term_micro") > 200000).alias("drifted"),
    )


# --------------------------------------------------------------------------
# DQ11: CUSUM changepoint screen over daily ingest volume — the
# sequential-detection complement to DQ8's rolling z-score: a z-score
# sees one bad day; CUSUM accumulates small persistent shifts (a scraper
# quietly losing 5% of a feed) until they cross the decision threshold.
# The recursive form S_t = max(0, S_{t-1} + dev_t - slack) is re-expressed
# as the CLOSED identity S_t = P_t - min(0, min_{i<=t} P_i) over prefix
# sums, so both engines compute it with two window passes — no recursion,
# no UDF. Everything stays in exact scaled integers (dev scaled by
# n_days to avoid the mean's division; slack = 5% of mean, threshold =
# 25% of mean, same scale), so the oracle hash-matches bit-for-bit.
# Scale shape: one daily aggregation (map-side combinable), then windows
# over the DAY-level series — bounded input, same contract as DQ8.
# --------------------------------------------------------------------------


@query(
    "DQ11_cusum_changepoint",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n FROM events GROUP BY 1
    ),
    tot AS (SELECT SUM(n) AS t, COUNT(*) AS d FROM daily),
    u AS (
        SELECT day, n, t,
               (d * n - t) - (t // 20) AS up_u,
               (t - d * n) - (t // 20) AS dn_u
        FROM daily CROSS JOIN tot
    ),
    p AS (
        SELECT day, n, t,
               SUM(up_u) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pu,
               SUM(dn_u) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd
        FROM u
    ),
    s AS (
        SELECT day, n, t,
               pu - LEAST(MIN(pu) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
                   AS cu,
               pd - LEAST(MIN(pd) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
                   AS cd
        FROM p
    )
    SELECT day, CAST(n AS BIGINT) AS n_events,
           CAST(cu AS BIGINT) AS cusum_up, CAST(cd AS BIGINT) AS cusum_down,
           cu > t // 4 OR cd > t // 4 AS changepoint
    FROM s
    """,
)
def cusum_changepoint(spark, sf_dir):
    from pyspark.sql import Window

    events = load(spark, sf_dir, "events")
    daily = events.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = daily.agg(F.sum("n").alias("t"), F.count(F.lit(1)).alias("d"))
    u = daily.crossJoin(F.broadcast(tot)).select(
        "day", "n", "t",
        F.expr("(d * n - t) - (t div 20)").alias("up_u"),
        F.expr("(t - d * n) - (t div 20)").alias("dn_u"),
    )
    win = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    p = u.select(
        "day", "n", "t",
        F.sum("up_u").over(win).alias("pu"),
        F.sum("dn_u").over(win).alias("pd"),
    )
    s = p.select(
        "day", "n", "t",
        (F.col("pu") - F.least(F.min("pu").over(win), F.lit(0))).alias("cu"),
        (F.col("pd") - F.least(F.min("pd").over(win), F.lit(0))).alias("cd"),
    )
    return s.select(
        "day",
        F.col("n").cast("bigint").alias("n_events"),
        F.col("cu").cast("bigint").alias("cusum_up"),
        F.col("cd").cast("bigint").alias("cusum_down"),
        (
            (F.col("cu") > F.expr("t div 4"))
            | (F.col("cd") > F.expr("t div 4"))
        ).alias("changepoint"),
    )


# --------------------------------------------------------------------------
# DQ12: seasonality-aware volume anomaly — the DQ8/DQ11 family's missing
# piece: DQ8 compares adjacent windows and DQ11 tracks cumulative shifts,
# but a weekly-seasonal pipeline (weekend dips, Monday spikes) needs the
# baseline conditioned on day-of-week. Per (event_type, dow): median
# daily volume and MAD of daily volumes around it; a day is anomalous
# when its volume deviates from ITS dow median by more than 3 dow-MADs.
# dow labels are engine-internal (Spark 1-7 vs DuckDB 0-6) but induce
# the same partition of dates, so they never appear in the output.
# Scale: two hash-aggs over (type, dow) — a few hundred groups — and a
# broadcast join back to daily counts; daily counts themselves are one
# map-side-combinable agg over events. The mad > 0 guard keeps constant
# series from flagging every fluctuation.
# --------------------------------------------------------------------------


@query(
    "DQ12_seasonal_volume_anomaly",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, event_type, COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ), base AS (
        SELECT event_type, dayofweek(d) AS dow,
               percentile_cont(0.5) WITHIN GROUP (ORDER BY n) AS med
        FROM daily GROUP BY 1, 2
    ), dev AS (
        SELECT da.event_type, dayofweek(da.d) AS dow,
               percentile_cont(0.5) WITHIN GROUP
                   (ORDER BY abs(da.n - b.med)) AS mad
        FROM daily da
        JOIN base b ON da.event_type = b.event_type
                   AND dayofweek(da.d) = b.dow
        GROUP BY 1, 2
    )
    SELECT da.d AS day, da.event_type, CAST(da.n AS BIGINT) AS n,
           round(b.med, 6) AS dow_median, round(dv.mad, 6) AS dow_mad
    FROM daily da
    JOIN base b ON da.event_type = b.event_type AND dayofweek(da.d) = b.dow
    JOIN dev dv ON da.event_type = dv.event_type AND dayofweek(da.d) = dv.dow
    WHERE dv.mad > 0 AND abs(da.n - b.med) > 3 * dv.mad
    """,
)
def seasonal_volume_anomaly(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    # referenced by three branches (base/dev/flag) — truncate so the
    # events aggregation computes once (the semdedup/census pattern)
    dowed = cut_lineage(daily.withColumn("dow", F.dayofweek("day")))
    base = dowed.groupBy("event_type", "dow").agg(
        F.percentile("n", F.lit(0.5)).alias("med")
    )
    dev = (
        dowed.join(F.broadcast(base), ["event_type", "dow"])
        .groupBy("event_type", "dow")
        .agg(
            F.percentile(F.abs(F.col("n") - F.col("med")), F.lit(0.5)).alias("mad")
        )
    )
    return (
        dowed.join(F.broadcast(base), ["event_type", "dow"])
        .join(F.broadcast(dev), ["event_type", "dow"])
        .filter(
            (F.col("mad") > 0)
            & (F.abs(F.col("n") - F.col("med")) > 3 * F.col("mad"))
        )
        .select(
            "day",
            "event_type",
            F.col("n").cast("bigint").alias("n"),
            F.round("med", 6).alias("dow_median"),
            F.round("mad", 6).alias("dow_mad"),
        )
    )


# --------------------------------------------------------------------------
# DQ13: cross-table value reconciliation — the classic warehouse audit
# DQ6 (key integrity) doesn't cover: does the order-header total equal
# the recomputed sum of its line items (TPC-H's own consistency
# invariant: o_totalprice = Σ round(extprice·(1−disc)·(1+tax), 2))?
# The fixture generator deliberately breaks it (every order drifts), so
# the audit output is the per-status drift PROFILE: order counts,
# mismatch counts beyond a cent-plus-epsilon tolerance, headers with no
# line items at all, and exact-decimal-summed |drift| totals. One
# map-side-combinable lineitem agg + one key join; all FP comparisons
# are identical IEEE sequences on both engines.
# --------------------------------------------------------------------------


@query(
    "DQ13_order_total_reconciliation",
    """
    WITH l AS (
        SELECT l_orderkey,
               CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount)
                                        * (1 + l_tax) * 100 + 0.5) AS BIGINT))
                    AS DOUBLE) / 100 AS recomputed
        FROM lineitem GROUP BY 1
    ), j AS (
        SELECT o.o_orderstatus, o.o_totalprice, l.recomputed,
               CASE WHEN l.recomputed IS NULL THEN NULL
                    ELSE abs(o.o_totalprice - l.recomputed) END AS drift
        FROM orders o LEFT JOIN l ON o.o_orderkey = l.l_orderkey
    )
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN recomputed IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_missing_lines,
           CAST(SUM(CASE WHEN drift > 0.011 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_mismatch,
           round(MAX(drift), 6) AS max_abs_drift,
           round(CAST(SUM(CAST(drift AS DECIMAL(38,6))) AS DOUBLE)
                 / COUNT(drift), 6) AS avg_abs_drift
    FROM j GROUP BY 1
    """,
)
def order_total_reconciliation(spark, sf_dir):
    orders, li = load(spark, sf_dir, "orders", "lineitem")
    # per-line cents via FLOOR(x*100 + 0.5) — the A23 fixed-point idiom;
    # round(x, 2) half-up ties resolve differently across engines
    recomputed = li.groupBy("l_orderkey").agg(
        (
            F.sum(
                F.floor(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                    * 100
                    + 0.5
                ).cast("bigint")
            ).cast("double")
            / 100
        ).alias("recomputed")
    )
    j = orders.join(
        recomputed, orders["o_orderkey"] == recomputed["l_orderkey"], "left"
    ).select(
        "o_orderstatus",
        "o_totalprice",
        "recomputed",
        F.when(
            F.col("recomputed").isNull(), F.lit(None).cast("double")
        ).otherwise(F.abs(F.col("o_totalprice") - F.col("recomputed"))).alias("drift"),
    )
    return j.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.when(F.col("recomputed").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_missing_lines"),
        F.sum(F.when(F.col("drift") > 0.011, 1).otherwise(0))
        .cast("bigint")
        .alias("n_mismatch"),
        F.round(F.max("drift"), 6).alias("max_abs_drift"),
        F.round(
            F.sum(F.col("drift").cast("decimal(38,6)")).cast("double")
            / F.count("drift"),
            6,
        ).alias("avg_abs_drift"),
    )


# --------------------------------------------------------------------------
# DQ14: FUNCTIONAL-DEPENDENCY audit — the schema-semantics primitive next
# to DQ6's referential integrity and DQ7's uniqueness. For each candidate
# FD (X → Y) it reports how many X-keys exist, how many VIOLATE the
# dependency (|distinct Y| > 1 for one X), and the worst fan-out — the
# classic profiling signal for "is this really a key / a 1:1 attribute /
# a denormalization that drifted". Mixed on purpose: three FDs that must
# HOLD on this schema (primary-key shaped) and three that must FAIL
# (attribute fan-outs), so the audit's discrimination — not just its
# plumbing — is what the oracle hash-checks. Scale: ALL six FDs ride ONE
# aggregation pipeline — each table contributes a column-pruned
# (fd, lhs, rhs) projection, the union is grouped once by (fd, key) and
# once by fd — so the audit costs ~3 shuffles total instead of one
# groupBy + one global agg per FD (the round-9 shape spent 18).
# --------------------------------------------------------------------------

_FD_CANDIDATES = [
    # (label, table, lhs, rhs) — expectation encoded only by the data
    ("nation.n_nationkey->n_regionkey", "nation", "n_nationkey", "n_regionkey"),
    ("orders.o_orderkey->o_custkey", "orders", "o_orderkey", "o_custkey"),
    ("events.event_id->user_id", "events", "event_id", "user_id"),
    ("orders.o_custkey->o_orderpriority", "orders", "o_custkey", "o_orderpriority"),
    ("customer.c_nationkey->c_mktsegment", "customer", "c_nationkey", "c_mktsegment"),
    ("lineitem.l_partkey->l_suppkey", "lineitem", "l_partkey", "l_suppkey"),
]


def _fd_oracle() -> str:
    arms = []
    for label, table, lhs, rhs in _FD_CANDIDATES:
        arms.append(f"""
        SELECT '{label}' AS fd, COUNT(*) AS n_keys,
               CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_violating_keys,
               CAST(MAX(k) AS BIGINT) AS max_fanout,
               CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END)
                    AS BIGINT) = 0 AS holds
        FROM (SELECT {lhs}, COUNT(DISTINCT {rhs}) AS k
              FROM {table} WHERE {lhs} IS NOT NULL GROUP BY {lhs})""")
    return " UNION ALL ".join(arms)


@query("DQ14_functional_dependency_audit", _fd_oracle())
def functional_dependency_audit(spark, sf_dir):
    # One pipeline for all FDs: the fd label rides as a grouping column,
    # so the per-key distinct count and the per-fd rollup each shuffle
    # ONCE over the union instead of once per dependency. lhs/rhs cast
    # to string for the union (int->string is injective, so the distinct
    # count per key is unchanged).
    rows = None
    for label, table, lhs, rhs in _FD_CANDIDATES:
        df = load(spark, sf_dir, table)
        part = df.filter(F.col(lhs).isNotNull()).select(
            F.lit(label).alias("fd"),
            F.col(lhs).cast("string").alias("x"),
            F.col(rhs).cast("string").alias("y"),
        )
        rows = part if rows is None else rows.unionByName(part)
    per_key = rows.groupBy("fd", "x").agg(F.countDistinct("y").alias("k"))
    return per_key.groupBy("fd").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum((F.col("k") > 1).cast("bigint")).alias("n_violating_keys"),
        F.max("k").cast("bigint").alias("max_fanout"),
        (F.sum((F.col("k") > 1).cast("bigint")) == 0).alias("holds"),
    )
