"""Distribution statistics — exact percentiles, histograms, and embedding
centroids (SURVEY.md §2.5 aggregation-surface widening + X3 support).

Scale notes: exact percentiles require a per-group sort, which Spark
implements as a single-pass sort-based aggregation per group after one
shuffle on the group key — the right shape when groups are few and large
(here: 3 return flags over the whole fact table). For quantiles over
high-cardinality groups at 100 TB, `approx_percentile` (t-digest, no
sort) is the scale path; the exact form is the oracle-checkable twin.
Histogram bucketing is a pure projection + one aggregation on a
small bucket key. Centroids are one shuffle on (label, dim) after a
row-local posexplode — dimension count is a constant factor, not a
shuffle multiplier.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .common import load, query

# --------------------------------------------------------------------------
# A10: exact percentiles per group. Spark's `percentile` and DuckDB's
# `percentile_cont` both use linear interpolation between closest ranks,
# so the values agree; the 9dp hash comparison absorbs last-ulp
# interpolation-arithmetic differences.
# --------------------------------------------------------------------------


@query(
    "A10_exact_percentiles",
    """
    SELECT l_returnflag,
           percentile_cont(0.5) WITHIN GROUP (ORDER BY l_extendedprice) AS p50,
           percentile_cont(0.9) WITHIN GROUP (ORDER BY l_extendedprice) AS p90,
           percentile_cont(0.99) WITHIN GROUP (ORDER BY l_extendedprice) AS p99,
           MIN(l_extendedprice) AS lo,
           MAX(l_extendedprice) AS hi
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def exact_percentiles(spark, sf_dir):
    from ..operators.scale import case_by_group, percentile_cont_exact_grouped

    li = load(spark, sf_dir, "lineitem")
    # Scan-bounded grouped percentiles (bit-identical to percentile_cont;
    # r12, see A26/DQ5) instead of the sort-based aggregate whose
    # distinct-value buffer is row-bounded on this near-continuous column.
    qs = percentile_cont_exact_grouped(
        li, "l_returnflag", "l_extendedprice", [0.5, 0.9, 0.99]
    )

    def q_expr(i):
        return case_by_group("l_returnflag", {g: v[i] for g, v in qs.items()})

    return li.groupBy("l_returnflag").agg(
        q_expr(0).alias("p50"),
        q_expr(1).alias("p90"),
        q_expr(2).alias("p99"),
        F.min("l_extendedprice").alias("lo"),
        F.max("l_extendedprice").alias("hi"),
    )


# --------------------------------------------------------------------------
# A11: fixed-width histogram of order totals — integer bucket arithmetic
# (floor division) is bit-identical on both engines; no float boundaries.
# --------------------------------------------------------------------------

_BUCKET = 50000


@query(
    "A11_value_histogram",
    f"""
    SELECT CAST(FLOOR(o_totalprice / {_BUCKET}) AS BIGINT) AS bucket,
           COUNT(*) AS n,
           MIN(o_totalprice) AS bucket_min,
           MAX(o_totalprice) AS bucket_max
    FROM orders
    GROUP BY 1
    """,
)
def value_histogram(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    return orders.groupBy(
        F.floor(F.col("o_totalprice") / _BUCKET).cast("long").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_totalprice").alias("bucket_min"),
        F.max("o_totalprice").alias("bucket_max"),
    )


# --------------------------------------------------------------------------
# A14: correlation / covariance / stddev — the bivariate-stats aggregate
# family. Both engines accumulate in double; association-order noise is
# ~1e-12 relative, far inside the 9dp comparison.
# --------------------------------------------------------------------------


@query(
    "A14_corr_covar",
    """
    SELECT l_returnflag,
           corr(l_quantity, l_extendedprice) AS qty_price_corr,
           covar_samp(l_quantity, l_extendedprice) AS qty_price_covar,
           stddev_samp(l_discount) AS discount_stddev,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def corr_covar(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.corr("l_quantity", "l_extendedprice").alias("qty_price_corr"),
        F.covar_samp("l_quantity", "l_extendedprice").alias("qty_price_covar"),
        F.stddev_samp("l_discount").alias("discount_stddev"),
        F.count(F.lit(1)).alias("n"),
    )


# --------------------------------------------------------------------------
# A12: pivot — order counts with priorities as columns. Spark's
# groupBy().pivot() compiles to the same CASE-sum aggregation the oracle
# spells out; pinning the value list keeps the output schema static (the
# dynamic-pivot form needs an extra distinct pass — avoid at scale).
# --------------------------------------------------------------------------

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


@query(
    "A12_pivot_priority_counts",
    """
    SELECT o_orderstatus,
           CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS p_urgent,
           CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS p_high,
           CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS p_medium,
           CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS p_notspec,
           CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS p_low
    FROM orders GROUP BY o_orderstatus
    """,
)
def pivot_priority_counts(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    pivoted = (
        orders.groupBy("o_orderstatus")
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(F.count(F.lit(1)))
    )
    renames = dict(
        zip(_PRIORITIES, ["p_urgent", "p_high", "p_medium", "p_notspec", "p_low"])
    )
    out = pivoted
    for old, new in renames.items():
        out = out.withColumnRenamed(old, new)
    # pivot leaves NULL for absent combinations; the CASE-sum oracle yields 0
    return out.select(
        "o_orderstatus",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in renames.values()],
    )


# --------------------------------------------------------------------------
# A13: unpivot (melt) — wide per-column metrics back to long rows.
# --------------------------------------------------------------------------


@query(
    "A13_unpivot_part_metrics",
    """
    SELECT p_partkey, metric, value FROM (
        SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value
        FROM part
        UNION ALL
        SELECT p_partkey, 'retailprice', CAST(p_retailprice AS DOUBLE)
        FROM part
    ) WHERE p_partkey < 200
    """,
)
def unpivot_part_metrics(spark, sf_dir):
    part = load(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_partkey") < 200)
        .select(
            "p_partkey",
            F.col("p_size").cast("double").alias("size"),
            F.col("p_retailprice").cast("double").alias("retailprice"),
        )
        .unpivot("p_partkey", ["size", "retailprice"], "metric", "value")
    )


# --------------------------------------------------------------------------
# X3: per-label embedding centroids — the cluster-statistics primitive
# behind IVF training and embedding-space drift monitoring. posexplode is
# row-local; the only shuffle is the (label, dim) aggregation. Declared
# output is one SCALAR row per (label, dim) — an array-typed centroid
# column is unsortable/unhashable under the driver's pandas canon
# (check_window_safety --all flagged it), and the flat form carries the
# same information; consumers that want the vector regroup it with one
# bounded collect_list. ``dim`` is 1-based to match DuckDB's
# generate_subscripts.
# --------------------------------------------------------------------------


@query(
    "X3_label_centroids",
    """
    WITH dims AS (
        SELECT label,
               generate_subscripts(embedding, 1) AS dim,
               unnest(embedding) AS v
        FROM embeddings
    )
    SELECT label, CAST(dim AS INTEGER) AS dim, AVG(v) AS mean_v
    FROM dims GROUP BY 1, 2
    """,
)
def label_centroids(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings", scan_parallel=True)
    dims = emb.select(
        "label", F.posexplode("embedding").alias("dim", "v")
    )
    return dims.groupBy(
        "label", (F.col("dim") + 1).cast("int").alias("dim")
    ).agg(F.avg("v").alias("mean_v"))


# --------------------------------------------------------------------------
# A16: approximate percentiles — the mergeable-sketch path for the exact
# A10 query. Spark's approx_percentile (GK-style) and DuckDB's
# approx_quantile (t-digest) are different sketches with different
# guarantees, so no cross-engine oracle exists BY DESIGN (rows-only);
# tests/test_stats_sketches.py pins the rank-error bound against the
# exact A10 values instead. At 100 TB this is the right default: one
# map-side-mergeable sketch per group, no full sort, accuracy set by the
# accuracy knob, not the data size.
# --------------------------------------------------------------------------


@query("A16_approx_percentiles")
def approx_percentiles(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    pcts = F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))
    return li.groupBy("l_returnflag").agg(
        F.approx_percentile("l_extendedprice", pcts, F.lit(10000)).alias("approx")
    ).select(
        "l_returnflag",
        F.col("approx")[0].alias("p50"),
        F.col("approx")[1].alias("p90"),
        F.col("approx")[2].alias("p99"),
    )


# --------------------------------------------------------------------------
# A9b: mergeable HLL sketch rollup (Spark 4 DataSketches surface) — the
# two-level pattern that matters at 100 TB: per-nation customer sketches
# build in one pass (map-side combinable), then UNION up to region
# without touching the raw data again. The raw ESTIMATES are
# engine-specific (exact only while the sketch stays sparse — a sf0.1
# cross-scale audit caught dense-mode deviation at ~2.9k distinct/region,
# an estimate as specified, not a bug), so they can't be value-hashed;
# the ACCURACY CONTRACT can: lgConfigK=14 → relative standard error
# 1.04/sqrt(2^14) ≈ 0.81%, and the declared output is the set of regions
# whose unioned-sketch estimate violates a generous 5σ band around the
# exact distinct count ≡ the empty relation, which DuckDB states
# directly. Same guarantee-not-value pattern as A16/A18/A19/A9c.
# tests/test_stats_sketches.py still pins the estimates' relative error.
# --------------------------------------------------------------------------

_HLL_LG_K = 14
_HLL_RSE = 1.04 / (2**_HLL_LG_K) ** 0.5  # DataSketches HLL standard error


def _hll_region_rollup(spark, sf_dir):
    """(region_name, exact_n, hll_estimate): the two-level sketch union
    next to the exact distinct — the estimate side of A9_hll_sketch_rollup
    before its violation filter (pytest consumes this directly)."""
    c, n, r = load(spark, sf_dir, "customer", "nation", "region")
    joined = c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]).join(
        F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]
    )
    per_nation = joined.groupBy("r_name", "n_nationkey").agg(
        F.hll_sketch_agg("c_custkey", F.lit(_HLL_LG_K)).alias("sk")
    )
    rolled = per_nation.groupBy(F.col("r_name").alias("region_name")).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("hll_estimate")
    )
    exact = joined.groupBy(F.col("r_name").alias("region_name")).agg(
        F.countDistinct("c_custkey").alias("exact_n")
    )
    return rolled.join(exact, "region_name").select(
        "region_name", "exact_n", "hll_estimate"
    )


@query(
    "A9_hll_sketch_rollup",
    """
    SELECT CAST(NULL AS VARCHAR) AS region_name,
           CAST(NULL AS BIGINT) AS exact_n,
           CAST(NULL AS BIGINT) AS hll_estimate
    WHERE FALSE
    """,
)
def hll_sketch_rollup(spark, sf_dir):
    est = _hll_region_rollup(spark, sf_dir)
    tol = F.col("exact_n") * (5 * _HLL_RSE) + 1
    return est.filter(
        (F.col("hll_estimate") < F.col("exact_n") - tol)
        | (F.col("hll_estimate") > F.col("exact_n") + tol)
    )


# --------------------------------------------------------------------------
# A18: count-min sketch with a value-level one-sided-error oracle. The
# sketch is built distributed — each (depth, hash-bucket) counter is a
# groupBy cell, the classic CMS layout re-expressed relationally (the
# counter table IS the sketch; merging partitions is the shuffle's sum).
# CMS guarantees estimate >= true count, so the declared output is the
# set of VIOLATIONS of that bound over every event_type — the empty
# relation, which DuckDB states directly. Estimates themselves depend on
# engine hash functions, so they stay out of the oracle (the pytest twin
# pins them); the bound does not.
# --------------------------------------------------------------------------

_CMS_DEPTH = 4
_CMS_WIDTH = 64


@query(
    "A18_countmin_no_underestimate",
    """
    SELECT CAST(NULL AS VARCHAR) AS event_type,
           CAST(NULL AS BIGINT) AS exact_n,
           CAST(NULL AS BIGINT) AS cms_estimate
    WHERE FALSE
    """,
)
def countmin_no_underestimate(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    rows = ev.select("event_type")
    # one row per (depth, bucket) occurrence: d independent hash rows
    cells = rows.select(
        "event_type",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {_CMS_DEPTH - 1}),"
                f" d -> pmod(xxhash64(event_type, d), {_CMS_WIDTH}))"
            )
        ).alias("depth", "bucket"),
    )
    counters = cells.groupBy("depth", "bucket").agg(
        F.count(F.lit(1)).alias("counter")
    )
    exact = rows.groupBy("event_type").agg(F.count(F.lit(1)).alias("exact_n"))
    keyed = exact.select(
        "event_type",
        "exact_n",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {_CMS_DEPTH - 1}),"
                f" d -> pmod(xxhash64(event_type, d), {_CMS_WIDTH}))"
            )
        ).alias("depth", "bucket"),
    )
    est = (
        keyed.join(F.broadcast(counters), ["depth", "bucket"])
        .groupBy("event_type", "exact_n")
        .agg(F.min("counter").alias("cms_estimate"))
    )
    return est.filter(F.col("cms_estimate") < F.col("exact_n"))


# --------------------------------------------------------------------------
# A19: Bloom-filter no-false-negative invariant + J10: the runtime-filter
# join it powers. The filter is built distributed: k bit positions per
# key, distinct positions = the bit set (set-union is what the shuffle's
# distinct does — mergeable by construction). Membership = all k
# positions present. Bloom guarantees no false negatives, so:
#   * A19 declares the violations relation (customers WITH orders that
#     the filter rejects) — provably empty, stated directly by DuckDB.
#   * J10 uses the filter the way an engine's runtime filter does: the
#     big side is pre-pruned by might-contain (cheap, conservative),
#     then the exact join removes false positives — result EQUALS the
#     plain join, which is its full oracle. This is semi-join reduction
#     for 100 TB fact⋈filtered-dim plans, expressed declaratively.
# --------------------------------------------------------------------------

_BLOOM_K = 5
_BLOOM_BITS = 1 << 16


def _bloom_positions(col: str):
    return F.expr(
        f"transform(sequence(0, {_BLOOM_K - 1}),"
        f" i -> pmod(xxhash64({col}, i), {_BLOOM_BITS}))"
    )


def _bloom_bits(df, col: str):
    """Distinct bit positions set by ``df[col]`` — the Bloom filter as a
    relation (broadcastable: at most _BLOOM_BITS rows)."""
    return (
        df.select(F.explode(_bloom_positions(col)).alias("bit")).distinct()
    )


def _might_contain(df, col: str, bits):
    """Rows of ``df`` whose key passes the Bloom filter (all k bits set).

    Membership is decided per DISTINCT key — a key with n rows probes
    once, not n times (grouping hit counts by row would tally k·n hits
    and never equal k) — then a semi-join keeps the qualifying rows.
    """
    keys = df.select(col).distinct()
    probes = keys.withColumn("_pos", F.explode(_bloom_positions(col)))
    ok = (
        probes.join(F.broadcast(bits), probes["_pos"] == bits["bit"], "left")
        .groupBy(col)
        .agg(F.count("bit").alias("_hits"))
        .filter(F.col("_hits") == _BLOOM_K)
        .select(col)
    )
    # no broadcast hint: `ok` is bounded by the passing key set, which is
    # small for a selective filter but not guaranteed so — AQE converts to
    # broadcast at runtime when it is.
    return df.join(ok, col, "left_semi")


@query(
    "A19_bloom_no_false_negatives",
    """
    SELECT CAST(NULL AS BIGINT) AS c_custkey WHERE FALSE
    """,
)
def bloom_no_false_negatives(spark, sf_dir):
    cust, orders = load(spark, sf_dir, "customer", "orders")
    bits = _bloom_bits(orders, "o_custkey")
    with_orders = cust.join(
        orders.select("o_custkey").distinct(),
        cust["c_custkey"] == F.col("o_custkey"),
        "left_semi",
    ).select("c_custkey")
    passed = _might_contain(with_orders, "c_custkey", bits)
    return with_orders.exceptAll(passed.select("c_custkey"))


@query(
    "J10_bloom_pruned_join",
    """
    SELECT o.o_orderpriority, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
               AS sum_price
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_acctbal > 9000
    GROUP BY o.o_orderpriority
    """,
)
def bloom_pruned_join(spark, sf_dir):
    cust, orders = load(spark, sf_dir, "customer", "orders")
    rich = cust.filter(F.col("c_acctbal") > 9000).select("c_custkey")
    bits = _bloom_bits(rich, "c_custkey")
    pruned = _might_contain(
        orders.select("o_custkey", "o_orderpriority", "o_totalprice"),
        "o_custkey",
        bits,
    )
    joined = pruned.join(
        rich, pruned["o_custkey"] == rich["c_custkey"], "left_semi"
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
        .cast("double")
        .alias("sum_price"),
    )


# --------------------------------------------------------------------------
# A16b: value-level error-bound oracle for approx_percentile. The
# estimate itself is engine-specific (rows-only, like every sketch), but
# its CONTRACT is not: with accuracy a, the returned value's rank must be
# within n/a of the target rank. The declared output is the violations of
# that bound (with n/1000 slack, >> n/10000 nominal) across every
# l_returnflag group — provably empty, stated directly by DuckDB. The
# same pattern as A18/A19: approximation machinery checked through its
# guarantee, not its value.
# --------------------------------------------------------------------------


@query(
    "A16_approx_percentile_bounds",
    """
    SELECT CAST(NULL AS VARCHAR) AS l_returnflag WHERE FALSE
    """,
)
def approx_percentile_bounds(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    est = li.groupBy("l_returnflag").agg(
        F.approx_percentile("l_extendedprice", F.lit(0.5), F.lit(10000)).alias("v"),
        F.count(F.lit(1)).alias("n"),
    )
    chk = (
        li.join(F.broadcast(est), "l_returnflag")
        .groupBy("l_returnflag", "v", "n")
        .agg(
            F.sum(
                F.when(F.col("l_extendedprice") <= F.col("v"), 1).otherwise(0)
            ).alias("n_le"),
            F.sum(
                F.when(F.col("l_extendedprice") < F.col("v"), 1).otherwise(0)
            ).alias("n_lt"),
        )
    )
    slack = F.col("n") / 1000 + 1
    target = F.col("n") * 0.5
    viol = chk.filter(
        (F.col("n_le") < target - slack) | (F.col("n_lt") > target + slack)
    )
    return viol.select("l_returnflag")


# --------------------------------------------------------------------------
# A20: exact equi-depth histogram via ntile over a total order (unique
# tiebreak keys make bucket assignment engine-independent). The Spark
# side computes ntile DISTRIBUTEDLY (operators/scale.py global_ntile:
# range partitions → bounded offsets table → partition-local row_number
# → closed-form tile from (global rank, total)) — bit-identical buckets
# to the single-window form, but no task ever holds the whole table.
# --------------------------------------------------------------------------


@query(
    "A20_equi_depth_histogram",
    """
    WITH ranked AS (
        SELECT l_extendedprice AS v,
               ntile(8) OVER (
                   ORDER BY l_extendedprice, l_orderkey, l_linenumber
               ) AS bucket
        FROM lineitem
    )
    SELECT bucket, COUNT(*) AS n, MIN(v) AS lo, MAX(v) AS hi
    FROM ranked GROUP BY bucket
    """,
)
def equi_depth_histogram(spark, sf_dir):
    from ..operators.scale import global_ntile

    li = load(spark, sf_dir, "lineitem")
    ranked = global_ntile(
        li.select("l_extendedprice", "l_orderkey", "l_linenumber"),
        [F.col("l_extendedprice"), F.col("l_orderkey"), F.col("l_linenumber")],
        8,
        "bucket",
    ).select(F.col("l_extendedprice").alias("v"), "bucket")
    return ranked.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
    )


# --------------------------------------------------------------------------
# A9c: HLL error-bound oracle — approx_count_distinct's estimate is
# engine-specific (A9 stays rows-only) but its accuracy contract is not:
# with rsd 0.05 the estimate lies within a few sigma of the exact count.
# Declared output = groups violating a generous 5-sigma band (provably
# empty; the default HLL keeps well under 2 sigma on these
# cardinalities). Same guarantee-not-value pattern as A16/A18/A19.
# --------------------------------------------------------------------------


@query(
    "A9_approx_distinct_bounds",
    """
    SELECT CAST(NULL AS BIGINT) AS c_nationkey WHERE FALSE
    """,
)
def approx_distinct_bounds(spark, sf_dir):
    cust = load(spark, sf_dir, "customer")
    per_nation = cust.groupBy("c_nationkey").agg(
        F.approx_count_distinct("c_custkey", 0.05).alias("approx_n"),
        F.countDistinct("c_custkey").alias("exact_n"),
    )
    tol = F.col("exact_n") * (5 * 0.05) + 1
    return per_nation.filter(
        (F.col("approx_n") < F.col("exact_n") - tol)
        | (F.col("approx_n") > F.col("exact_n") + tol)
    ).select("c_nationkey")


# --------------------------------------------------------------------------
# A25: quantile binning via cutpoints — the shuffle-free VALUE-based
# sibling of A20's exact equal-count ntile: exact quartile cutpoints
# (one aggregation), broadcast back, bucket = 1 + Σ(v > cutpoint) in the
# scan projection. No range shuffle, no sort, no window — the shape you
# use at 100 TB when bucket populations may differ at ties.
# --------------------------------------------------------------------------


@query(
    "A25_quantile_binning",
    """
    WITH c AS (
        SELECT quantile_cont(l_extendedprice, 0.25) AS c0,
               quantile_cont(l_extendedprice, 0.50) AS c1,
               quantile_cont(l_extendedprice, 0.75) AS c2
        FROM lineitem
    )
    SELECT 1 + (CASE WHEN l_extendedprice > c0 THEN 1 ELSE 0 END)
             + (CASE WHEN l_extendedprice > c1 THEN 1 ELSE 0 END)
             + (CASE WHEN l_extendedprice > c2 THEN 1 ELSE 0 END) AS bucket,
           COUNT(*) AS n,
           MIN(l_extendedprice) AS lo,
           MAX(l_extendedprice) AS hi
    FROM lineitem, c
    GROUP BY 1
    """,
)
def quantile_binning(spark, sf_dir):
    from ..operators.scale import quantile_bucket_assign

    li = load(spark, sf_dir, "lineitem").select("l_extendedprice")
    binned = quantile_bucket_assign(
        li, "l_extendedprice", [0.25, 0.50, 0.75]
    )
    return binned.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("l_extendedprice").alias("lo"),
        F.max("l_extendedprice").alias("hi"),
    )


# --------------------------------------------------------------------------
# A24: weighted percentiles — the quantile that respects row mass (median
# price weighted by quantity ≠ median price). Definition: smallest x whose
# cumulative weight reaches p · total. Cumulative weights are exact
# integer sums under a RANGE frame (equal-x runs share the run-end total,
# so the result is independent of intra-run row order AND partitioning),
# and the thresholds are cross-multiplied to stay in integer arithmetic —
# no float accumulation anywhere, both engines agree bit-for-bit.
# Scale shape: one partitioned window (shuffle on l_returnflag) + one
# hash aggregate; no global sort.
# --------------------------------------------------------------------------


@query(
    "A24_weighted_percentiles",
    """
    WITH c AS (
      SELECT l_returnflag, l_extendedprice AS x,
             SUM(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_returnflag ORDER BY l_extendedprice
               RANGE UNBOUNDED PRECEDING) AS cum,
             SUM(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_returnflag) AS tot
      FROM lineitem
    )
    SELECT l_returnflag,
           MIN(CASE WHEN cum * 2 >= tot THEN x END) AS w_median,
           MIN(CASE WHEN cum * 10 >= tot * 9 THEN x END) AS w_p90
    FROM c GROUP BY l_returnflag
    """,
)
def weighted_percentiles(spark, sf_dir):
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem")
    win = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = li.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("x"),
        F.sum(F.col("l_quantity").cast("bigint")).over(win).alias("cum"),
        F.sum(F.col("l_quantity").cast("bigint"))
        .over(Window.partitionBy("l_returnflag"))
        .alias("tot"),
    )
    return c.groupBy("l_returnflag").agg(
        F.min(F.when(F.col("cum") * 2 >= F.col("tot"), F.col("x"))).alias(
            "w_median"
        ),
        F.min(
            F.when(F.col("cum") * 10 >= F.col("tot") * 9, F.col("x"))
        ).alias("w_p90"),
    )


# --------------------------------------------------------------------------
# A26: winsorized (clipped-tail) grouped stats — the standard outlier
# treatment before feeding numeric features to training: clamp values at
# the global p05/p95 and aggregate the clipped column. Two passes: one
# aggregation computes the exact cutpoints (percentile interpolation is
# identical to DuckDB percentile_cont — the A10 contract), a 1-row
# broadcast cross join carries them into the scan projection, and one
# grouped aggregation finishes. At 100 TB swap the exact global
# percentile for approx_percentile (sketch-based, algebraic, constant
# memory) — the exact form is the oracle-checkable twin (DQ5 pattern).
# Boundedness of the exact form as written: `F.percentile` buffers
# DISTINCT (value, count) pairs, and l_extendedprice is a DECIMAL price
# with bounded domain cardinality (price ladders, not a continuum), so
# the buffer is domain-bounded, not row-bounded — the same argument as
# X15/DQ5's session-size percentiles. For a genuinely continuous column
# use A26_winsorized_stats_approx below (its rank-error invariant is
# driver-checked, the A9 pattern).
# The winsorized mean uses the dsum contract (exact DECIMAL accumulation)
# so association order can't flip the hash.
# --------------------------------------------------------------------------


@query(
    "A26_winsorized_stats",
    """
    WITH cuts AS (
        SELECT percentile_cont(0.05) WITHIN GROUP (ORDER BY l_extendedprice) AS qlo,
               percentile_cont(0.95) WITHIN GROUP (ORDER BY l_extendedprice) AS qhi
        FROM lineitem
    ),
    w AS (
        SELECT l_returnflag,
               GREATEST(qlo, LEAST(qhi, l_extendedprice)) AS wp,
               CASE WHEN l_extendedprice < qlo THEN 1 ELSE 0 END AS clo,
               CASE WHEN l_extendedprice > qhi THEN 1 ELSE 0 END AS chi
        FROM lineitem, cuts
    )
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(CAST(wp AS DECIMAL(38,6))) AS DOUBLE) AS sum_w,
           CAST(SUM(CAST(wp AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_w,
           CAST(SUM(clo) AS BIGINT) AS n_clipped_lo,
           CAST(SUM(chi) AS BIGINT) AS n_clipped_hi
    FROM w GROUP BY l_returnflag
    """,
)
def winsorized_stats(spark, sf_dir):
    from ..operators.scale import percentile_cont_exact

    li = load(spark, sf_dir, "lineitem")
    # Histogram-refinement selection instead of F.percentile: the price
    # column is near-continuous (583k distinct in 600k rows at sf0.1),
    # so the sort-based aggregate's buffer is row-bounded and merges on
    # one reducer (~4 s measured; an OOM at real scale). The selection
    # is bit-identical to percentile_cont (pinned by
    # tests/test_scale.py) and scan-bounded — guide §1.2: fix the
    # algorithm before the constants. r12: 4.6 s → ~2 s.
    qlo, qhi = percentile_cont_exact(li, "l_extendedprice", [0.05, 0.95])
    wp = F.greatest(F.lit(qlo), F.least(F.lit(qhi), F.col("l_extendedprice")))
    w = li.select(
        "l_returnflag",
        wp.alias("wp"),
        (F.col("l_extendedprice") < F.lit(qlo)).cast("bigint").alias("clo"),
        (F.col("l_extendedprice") > F.lit(qhi)).cast("bigint").alias("chi"),
    )
    return w.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("wp").cast("decimal(38,6)")).cast("double").alias("sum_w"),
        (
            F.sum(F.col("wp").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_w"),
        F.sum("clo").alias("n_clipped_lo"),
        F.sum("chi").alias("n_clipped_hi"),
    )


# --------------------------------------------------------------------------
# A26 scale variant: winsorize from approx_percentile cutpoints — the
# constant-memory form for genuinely continuous columns (where the exact
# percentile's distinct-value buffer is row-bounded, not domain-bounded).
# Sketch values differ per engine, so the DECLARED output is the accuracy
# INVARIANT instead (the A9 pattern): approx_percentile(p, acc)
# guarantees rank error <= 1/acc, hence by monotonicity the approx cut
# must lie within [exact(p - 2/acc), exact(p + 2/acc)]. The Spark side
# emits violations of that bracket; the oracle states the consequence —
# the empty relation. A sketch regression (accuracy loss, rank-error
# drift) makes the Spark side non-empty and fails the driver compare.
# --------------------------------------------------------------------------

_A26_ACC = 10_000  # rank error 1e-4; bracket at 2e-4 for interpolation slack


@query(
    "A26_winsorized_stats_approx",
    """
    SELECT CAST(NULL AS STRING) AS violated_cut WHERE FALSE
    """,
)
def winsorized_stats_approx(spark, sf_dir):
    from ..operators.scale import percentile_cont_exact

    li = load(spark, sf_dir, "lineitem")
    # Bracket slack: the sketch's declared rank error (2/acc) PLUS a
    # 3-rank convention floor. approx_percentile returns an ACTUAL data
    # value at its own target rank ceil(p*n) (1-based, discrete), while
    # percentile_cont interpolates at position p*(n-1) (0-based) — the
    # two conventions diverge by up to ~2.5 ranks independent of the
    # sketch error, so at tiny n a pure 2/acc bracket spans less than
    # one rank and excludes every raw value — a latent sf0.001 failure
    # inherited at r12 round start (pre-existing, reproduced on the
    # unmodified tree). At any real n the 2/acc term dominates
    # (3/n < 1e-5 past 300k rows) and the declared contract is unchanged.
    n = li.count()
    eps = 2.0 / _A26_ACC + 3.0 / max(n, 1)
    # exact bracket bounds via scan-bounded selection (bit-identical to
    # F.percentile — r12, see A26); the sketch under test stays in the agg
    lo_min, lo_max, hi_min, hi_max = percentile_cont_exact(
        li,
        "l_extendedprice",
        [max(0.0, 0.05 - eps), 0.05 + eps, 0.95 - eps, min(1.0, 0.95 + eps)],
    )
    cuts = li.agg(
        F.expr(
            f"approx_percentile(l_extendedprice, 0.05, {_A26_ACC})"
        ).alias("a_lo"),
        F.expr(
            f"approx_percentile(l_extendedprice, 0.95, {_A26_ACC})"
        ).alias("a_hi"),
        F.lit(lo_min).alias("lo_min"),
        F.lit(lo_max).alias("lo_max"),
        F.lit(hi_min).alias("hi_min"),
        F.lit(hi_max).alias("hi_max"),
    )
    lo_bad = (F.col("a_lo") < F.col("lo_min")) | (F.col("a_lo") > F.col("lo_max"))
    hi_bad = (F.col("a_hi") < F.col("hi_min")) | (F.col("a_hi") > F.col("hi_max"))
    return cuts.select(
        F.explode(
            F.concat(
                F.when(lo_bad, F.array(F.lit("qlo"))).otherwise(F.array().cast("array<string>")),
                F.when(hi_bad, F.array(F.lit("qhi"))).otherwise(F.array().cast("array<string>")),
            )
        ).alias("violated_cut")
    )


# --------------------------------------------------------------------------
# A27: mergeable quantile-summary rollup — the quantile sibling of the
# A9 HLL rollup: per-group ε-approximate summaries (every B-th ranked
# element with its rank weight — the classic mergeable summary of
# Manku/Rajagopalan/Lindsay, SIGMOD 1998) merge into a GLOBAL estimator
# without re-touching raw rows. Unlike engine-internal GK/KLL sketches
# (layout-dependent → rows-only at best), the every-B-th-rank summary is
# a pure function of the data, so the WHOLE pipeline — summary
# membership, weights, merged cumulative ranks, and each quantile
# estimate — is hash-checked cross-engine. Guarantee: estimated rank
# error ≤ B per contributing group. Scale: summary build is one
# per-group sort (what any deterministic summary costs; raise B to
# shrink it); the merge walks n/B rows via the distributed prefix-sum
# (operators/scale.py global_running_sum — range-partitioned, never an
# unpartitioned window); estimates probe the summary only.
# --------------------------------------------------------------------------

_QSUM_B = 100
_QSUM_QS = (25, 50, 75, 95)


@query(
    "A27_quantile_summary_rollup",
    f"""
    WITH s AS (
        SELECT l_returnflag AS g, l_extendedprice AS v,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                   ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
               COUNT(*) OVER (PARTITION BY l_returnflag) AS n_g
        FROM lineitem
    ), kept AS (
        SELECT g, v, rn,
               CASE WHEN rn % {_QSUM_B} = 0 THEN {_QSUM_B}
                    ELSE n_g % {_QSUM_B} END AS w
        FROM s WHERE rn % {_QSUM_B} = 0 OR rn = n_g
    ), c AS (
        SELECT g, v, rn, w,
               SUM(w) OVER (ORDER BY v, g, rn ROWS UNBOUNDED PRECEDING)
                   AS cumw
        FROM kept
    ), tot AS (SELECT COUNT(*) AS n FROM lineitem),
    t AS (
        SELECT q, (q * n + 99) // 100 AS target, n
        FROM tot, UNNEST([{", ".join(str(q) for q in _QSUM_QS)}]) AS u(q)
    )
    SELECT CAST(t.q AS INTEGER) AS q_pct,
           arg_min(c.v, c.cumw) AS est_value,
           CAST(MIN(c.cumw) AS BIGINT) AS est_cum_weight,
           CAST(MIN(t.n) AS BIGINT) AS total_n
    FROM t JOIN c ON c.cumw >= t.target
    GROUP BY t.q
    """,
)
def quantile_summary_rollup(spark, sf_dir):
    from pyspark.sql import Window

    from ..operators.scale import global_running_sum

    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("g"),
        F.col("l_extendedprice").alias("v"),
        "l_orderkey",
        "l_linenumber",
    )
    w_g = Window.partitionBy("g").orderBy("v", "l_orderkey", "l_linenumber")
    ranked = li.select(
        "g",
        "v",
        F.row_number().over(w_g).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("g")).alias("n_g"),
    )
    kept = ranked.filter(
        (F.col("rn") % _QSUM_B == 0) | (F.col("rn") == F.col("n_g"))
    ).select(
        "g",
        "v",
        "rn",
        F.when(F.col("rn") % _QSUM_B == 0, F.lit(_QSUM_B))
        .otherwise(F.col("n_g") % _QSUM_B)
        .alias("w"),
    )
    merged = global_running_sum(
        kept, order_by=["v", "g", "rn"], val_col="w",
        out_col="cumw", exclusive=False,
    )
    n_total = li.groupBy().agg(F.count(F.lit(1)).alias("n"))
    targets = n_total.select(
        F.explode(F.array(*[F.lit(q) for q in _QSUM_QS])).alias("q"), "n"
    ).select("q", F.expr(f"(q * n + 99) DIV 100").alias("target"), "n")
    probed = merged.crossJoin(F.broadcast(targets)).filter(
        F.col("cumw") >= F.col("target")
    )
    return probed.groupBy("q").agg(
        F.min_by("v", "cumw").alias("est_value"),
        F.min("cumw").cast("bigint").alias("est_cum_weight"),
        F.min("n").cast("bigint").alias("total_n"),
    ).select(
        F.col("q").cast("int").alias("q_pct"),
        "est_value",
        "est_cum_weight",
        "total_n",
    )


# --------------------------------------------------------------------------
# A28: exact DISCRETE quantiles with NO global sort — histogram
# refinement (two aggregate passes + a window over a ~0.3% candidate
# slice). The scale-path twin of A10's sort-based F.percentile and the
# exactness twin of A27's bounded-error summaries: at 100 TB the full
# relation is never shuffled, only scanned. The oracle defines the
# semantics independently (value at ROW_NUMBER rank ceil(q*n) per
# group), so the hash match proves the bucket walk + offset arithmetic
# lands on exactly the right order statistic at every scale.
# --------------------------------------------------------------------------


@query(
    "A28_exact_quantiles_twopass",
    """
    WITH r AS (
        SELECT l_returnflag AS g, l_extendedprice AS x,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                  ORDER BY l_extendedprice) AS rn,
               COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem
    )
    SELECT g AS l_returnflag,
           MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT) THEN x END) AS p50,
           MAX(CASE WHEN rn = CAST(CEIL(0.9 * n) AS BIGINT) THEN x END) AS p90,
           MAX(CASE WHEN rn = CAST(CEIL(0.99 * n) AS BIGINT) THEN x END) AS p99
    FROM r GROUP BY g
    """,
)
def exact_quantiles_twopass_query(spark, sf_dir):
    from ..operators.scale import exact_quantiles_twopass

    li = load(spark, sf_dir, "lineitem")
    return exact_quantiles_twopass(
        li, "l_returnflag", "l_extendedprice", [0.5, 0.9, 0.99]
    )
