"""Scale operators: skew-salted joins and bucketed co-located joins.

These are the two knobs SURVEY.md §4.2 reserves for 100 TB workloads that
AQE alone doesn't cover:

- ``salted_join``: when one join key dominates (power-law user_ids,
  null-heavy dims), a plain hash join sends the hot key to one task. The
  salt splits each skewed left row across ``n_salts`` partitions and
  replicates the matching right rows across the same salts — same result
  set, ~n_salts× better max-task balance. AQE's skew-join handles *sort-
  merge* skew after the fact; salting fixes it at plan time and also works
  for aggregations.
- ``write_bucketed`` / ``read_bucketed``: pre-shuffle fact tables into N
  buckets on the join key at write time; repeated joins/aggregations on
  that key then run with NO exchange (verified by plan inspection in
  tests). This is the "pay the shuffle once" contract for fact⋈fact
  workloads like lineitem⋈orders.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import cut_lineage


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join robust to heavy skew in ``left[on]``.

    Left rows get a random-but-deterministic salt from a sibling column
    hash (falling back to monotonically_increasing_id would break
    determinism across retries; xxhash64 of the whole row's key + a
    per-partition counter is unnecessary — any column hash spreads the hot
    key). Right rows are replicated across all salts via a literal
    explode. Result == plain join (verified by the declared test); max
    task size for the hot key drops by ~n_salts.

    Only left-preserving joins are sound under this scheme: every right
    row exists once PER SALT, so a right/full outer join would emit each
    unmatched right row ``n_salts`` times. Those ``how`` values raise —
    salt the other side (swap the inputs) instead.
    """
    normalized = how.lower().replace("_", "")
    if normalized not in {
        "inner",
        "left",
        "leftouter",
        "leftsemi",
        "semi",
        "leftanti",
        "anti",
    }:
        raise ValueError(
            f"salted_join: how={how!r} is unsound — unmatched right rows are "
            f"replicated once per salt (right side is exploded across all "
            f"{n_salts} salts). Use inner/left/semi/anti, or swap the inputs "
            "so the skewed, preserved side is on the left."
        )
    salt = (F.xxhash64(*[F.col(c) for c in left.columns]) % n_salts + n_salts) % n_salts
    l_salted = left.withColumn("_salt", salt.cast("int"))
    r_salted = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    out = l_salted.join(r_salted, [on, "_salt"], how)
    return out.drop("_salt")


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 8,
) -> None:
    """Persist ``df`` bucketed (and sorted) on the join key.

    Spark's bucketing metadata lives in the session catalog
    (saveAsTable); subsequent scans expose the hash-partitioned layout so
    joins/aggs on ``bucket_col`` skip their exchange.
    """
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
        .saveAsTable(table_name)
    )


def read_bucketed(spark: SparkSession, table_name: str) -> DataFrame:
    return spark.table(table_name)


def approx_top_k(
    df: DataFrame,
    col: str,
    k: int = 20,
    candidates_per_partition: int | None = None,
) -> DataFrame:
    """Heavy hitters: top-k values of ``col`` by count, candidate-then-
    verify — the 100 TB alternative to a full groupBy when the value
    domain is huge and only the head matters.

    Phase 1 (no shuffle): each partition counts locally and keeps its own
    top ``candidates_per_partition`` (default 4k) values. Any global
    top-k value must be a local top-m in at least one partition whenever
    m ≥ k (a global heavy hitter cannot be outside a partition's local
    top-m everywhere if m ≥ k, by averaging); the default margin guards
    adversarial splits.
    Phase 2: exact counts for the candidate union only — the shuffle
    carries |candidates| ≈ partitions × m rows, not the full domain.
    Counts in the output are EXACT; only membership of the tail near the
    k-boundary is approximate.
    """
    m = candidates_per_partition or 4 * k

    def _local_top(it):
        import pandas as pd

        for pdf in it:
            counts = pdf[col].value_counts().head(m)
            yield pd.DataFrame({col: counts.index})

    cand = (
        df.select(col)
        .mapInPandas(_local_top, f"{col} {dict(df.dtypes)[col]}")
        .distinct()
    )
    exact = (
        df.join(F.broadcast(cand), col, "left_semi")
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # orderBy+limit plans as TakeOrderedAndProject (per-partition top-k,
    # k-row merge) — no single-task rank window over the candidate set
    return exact.orderBy(F.desc("n"), F.asc(col)).limit(k)


def write_range_clustered(
    df: DataFrame,
    path: str,
    col: str,
    n_files: int = 8,
) -> str:
    """Range-partition + sort the data on ``col`` before a Parquet write,
    so each output file covers a disjoint value range.

    This is the data-skipping layout lever: Parquet stores per-row-group
    min/max statistics, and a range-clustered layout makes a selective
    filter on ``col`` prune whole files/row-groups at scan time instead of
    reading everything (the single-column equivalent of Z-ordering).
    ``repartitionByRange`` samples split points; ``sortWithinPartitions``
    orders rows inside each file so row-group stats are tight.
    """
    (
        df.repartitionByRange(n_files, F.col(col))
        .sortWithinPartitions(col)
        .write.mode("overwrite")
        .parquet(path)
    )
    return path


def write_zorder_clustered(
    df: DataFrame,
    path: str,
    col_x: str,
    col_y: str,
    n_files: int = 8,
    bits: int = 16,
) -> str:
    """Two-dimensional Z-order (Morton) clustering before a Parquet write:
    selective filters on EITHER column prune files/row-groups.

    Thin wrapper over the canonical N-column implementation in
    ``operators/layout.py`` (integer-exact grid scaling + bit
    interleave, min/max bounds broadcast back — no driver action, no
    window). Because the Morton curve preserves locality in both
    dimensions, every output file covers a small rectangle of (x, y)
    space, so Parquet min/max stats stay tight on both columns — unlike
    single-column range clustering (``write_range_clustered``), which
    leaves the second column's per-file range at ~100% of global. This
    is the layout lever for multi-predicate scan pruning at 100 TB; the
    clustering key is layout-only and never changes stored values.
    Columns must be integral (cast timestamps upstream); the key math is
    oracle-checked by the S17_zorder_key_events declared query.
    """
    from .layout import write_zordered

    write_zordered(df, [col_x, col_y], path, n_files=n_files, bits=bits)
    return path


def adaptive_salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    n_salts: int = 16,
    hot_k: int = 8,
    hot_min_fraction: float = 0.01,
    how: str = "inner",
    discovery: str = "sample",
    sample_fraction: float = 0.02,
) -> DataFrame:
    """Skew join that salts ONLY the hot keys.

    Blanket salting (``salted_join``) replicates the ENTIRE right side
    ``n_salts``× — fine for a small dim, a disaster for a large one.
    The adaptive form first discovers the left side's heavy hitters,
    keeps those above ``hot_min_fraction`` of rows, and splits the join:
    hot keys get salted left rows against a ``n_salts``×
    replicated-hot-only right slice; everything else joins plain. The
    replication cost drops from |right| × n_salts to |right ∩ hot| ×
    n_salts — at 100 TB that is the difference between a working skew
    mitigation and a new bottleneck. The hot-key set is a bounded driver
    list (≤ hot_k values), the same permissible-collect class as IVF
    centroids. Result ≡ plain join for any salt assignment AND any
    discovered hot set — discovery decides plan shape only, so the cheap
    default is a seeded ``sample_fraction`` scan (one small job: a key
    with ≥ hot_min_fraction of rows is hit hundreds of times by a 2%
    sample at any realistic scale, and both its count and the total are
    estimated from the same sample so the fraction is unbiased).
    ``discovery='exact'`` switches to the candidate-then-verify
    ``approx_top_k`` pass (exact counts) for callers that also *report*
    the hot keys.
    """
    if discovery == "exact":
        total = left.count()
        hot_rows = approx_top_k(left, on, k=hot_k).collect()
        hot = [
            r[on]
            for r in hot_rows
            if r["n"] >= max(1, int(total * hot_min_fraction))
        ]
    else:
        sampled = (
            left.select(on)
            .sample(fraction=sample_fraction, seed=7)
            .groupBy(on)
            .agg(F.count(F.lit(1)).alias("_n"))
        )
        # total and top keys from the SAME sampled aggregate (scalar rides
        # as a broadcast row — one job, no second scan of `left`)
        tot = sampled.agg(F.sum("_n").alias("_t"))
        rows = (
            sampled.crossJoin(F.broadcast(tot))
            .orderBy(F.desc("_n"), F.asc(on))
            .limit(hot_k)
            .collect()
        )
        hot = [
            r[on]
            for r in rows
            if r["_t"] and r["_n"] >= max(1.0, r["_t"] * hot_min_fraction)
        ]
    if not hot:
        return left.join(right, on, how)

    l_hot = left.filter(F.col(on).isin(hot))
    l_cold = left.filter(~F.col(on).isin(hot) | F.col(on).isNull())
    r_hot = right.filter(F.col(on).isin(hot))
    r_cold = right.filter(~F.col(on).isin(hot) | F.col(on).isNull())

    hot_joined = salted_join(l_hot, r_hot, on, n_salts=n_salts, how=how)
    cold_joined = l_cold.join(r_cold, on, how)
    return hot_joined.unionByName(cold_joined)


def _range_pinned(df: DataFrame, order_by: list, n_parts: int | None = None) -> DataFrame:
    """Range-partition ``df`` on a total order and pin the layout.

    Returns ``df`` with a ``_pid`` column = the range-partition index.
    A lazy ``cut_lineage`` materializes the partitioning at
    first use, so every downstream branch (per-partition offsets AND the
    main pass) sees the SAME pid assignment — without it a recomputation
    could re-sample different range boundaries. Partition count defaults
    to the cluster parallelism; result values are invariant to where the
    boundaries fall, so the sampling inside ``repartitionByRange`` never
    affects output.
    """
    n = n_parts or df.sparkSession.sparkContext.defaultParallelism
    # pin the INPUT first: repartitionByRange's boundary-sampling pass and
    # the real shuffle would otherwise each recompute the upstream plan
    # (e.g. a tokenize projection) from scratch — the input here is always
    # a slim projection, so caching it costs little and halves the work
    pinned_in = cut_lineage(df)
    return cut_lineage(
        pinned_in.repartitionByRange(n, *order_by)
        .sortWithinPartitions(*order_by)
        .withColumn("_pid", F.spark_partition_id())
    )


def global_running_sum(
    df: DataFrame,
    order_by: list,
    val_col: str,
    out_col: str,
    exclusive: bool = True,
    n_parts: int | None = None,
) -> DataFrame:
    """Running SUM(val_col) over a GLOBAL total order — as a distributed
    prefix-sum, never an unpartitioned window.

    ``Window.orderBy(...)`` with no partition spec funnels every row
    through ONE task — correct at sf0.1, a single-executor bottleneck at
    100 TB. The distributed shape: (1) range-partition on the order so
    partitions hold contiguous key ranges; (2) per-partition subtotals —
    one tiny row per partition; (3) cumulative offsets over that
    partition-count-sized table (bounded window); (4) broadcast the
    offsets back and finish with a PARTITION-LOCAL running sum. Same
    values as the global window for any choice of range boundaries.

    ``order_by`` must be a total order (include tiebreak keys);
    ``exclusive=True`` sums strictly-preceding rows (0 for the first).
    """
    from pyspark.sql import Window

    pinned = _range_pinned(df, order_by, n_parts)
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        pinned.groupBy("_pid")
        .agg(F.sum(val_col).alias("_psum"))
        # window over ≤ n_parts post-aggregation rows — bounded by design
        .select("_pid", F.coalesce(F.sum("_psum").over(w_off), F.lit(0)).alias("_off"))
    )
    upper = -1 if exclusive else 0
    w_loc = (
        Window.partitionBy("_pid")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, upper)
    )
    return (
        pinned.join(F.broadcast(offsets), "_pid")
        .withColumn(
            out_col,
            F.coalesce(F.sum(val_col).over(w_loc), F.lit(0)) + F.col("_off"),
        )
        .drop("_pid", "_off")
    )


def global_running_min(
    df: DataFrame,
    order_by: list,
    val_col: str,
    out_col: str,
    exclusive: bool = True,
    n_parts: int | None = None,
) -> DataFrame:
    """Running MIN(val_col) over a GLOBAL total order — distributed
    prefix-scan, same scheme as ``global_running_sum`` (min is
    associative, so per-partition mins compose the same way subtotals
    do). The exclusive identity is NULL, not 0: the first row globally
    gets NULL ``out_col`` (no strictly-preceding row), and ``F.least``'s
    null-skipping merges the partition offset with the local prefix.

    ``order_by`` must be a total order (include tiebreak keys) unless
    the input has one row per order key — with duplicate keys an
    exclusive ROWS frame would include an arbitrary subset of the
    equal-key run.
    """
    from pyspark.sql import Window

    pinned = _range_pinned(df, order_by, n_parts)
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        pinned.groupBy("_pid")
        .agg(F.min(val_col).alias("_pmin"))
        # window over ≤ n_parts post-aggregation rows — bounded by design
        .select("_pid", F.min("_pmin").over(w_off).alias("_off"))
    )
    upper = -1 if exclusive else 0
    w_loc = (
        Window.partitionBy("_pid")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, upper)
    )
    return (
        pinned.join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, F.least(F.min(val_col).over(w_loc), F.col("_off")))
        .drop("_pid", "_off")
    )


def global_row_number(
    df: DataFrame,
    order_by: list,
    out_col: str,
    n_parts: int | None = None,
) -> DataFrame:
    """ROW_NUMBER() over a GLOBAL total order, distributed.

    Same prefix-sum scheme as ``global_running_sum`` with val ≡ 1: the
    per-partition offset is the count of rows in preceding range
    partitions, and the local pass is a partition-local ``row_number``.
    ``order_by`` must be a total order for a deterministic result.
    """
    from pyspark.sql import Window

    pinned = _range_pinned(df, order_by, n_parts)
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        pinned.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("_pn"))
        .select("_pid", F.coalesce(F.sum("_pn").over(w_off), F.lit(0)).alias("_off"))
    )
    w_loc = Window.partitionBy("_pid").orderBy(*order_by)
    return (
        pinned.join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, F.row_number().over(w_loc) + F.col("_off"))
        .drop("_pid", "_off")
    )


def stratified_row_number(
    df: DataFrame,
    strata: list[str],
    order_by: list,
    out_col: str,
    n_parts: int | None = None,
) -> DataFrame:
    """ROW_NUMBER() PARTITION BY strata ORDER BY order_by — WITHOUT one
    task per stratum.

    A plain per-stratum window puts each stratum's entire sort in a
    single task: fine for high-cardinality keys, a bottleneck when
    strata are few and fat (languages, sources — one language can be
    60% of a web corpus). Here the data range-partitions on
    (strata, order) so a fat stratum SPANS many partitions; per-
    (partition, stratum) counts give each partition its per-stratum
    offset (bounded: n_parts × n_strata rows), and a partition-local
    window finishes. Bit-identical to the single-window form.

    (For a CONSTANT rank limit k, prefer the plain window: Spark's
    WindowGroupLimit pushes the top-k below the exchange and the skew
    disappears. This primitive is for unbounded ranks or data-dependent
    limits — exact fractions, ntile-style cuts — which cannot push.)
    """
    from pyspark.sql import Window

    strata_cols = [F.col(c) for c in strata]
    pinned = _range_pinned(df, [*strata_cols, *order_by], n_parts)
    w_off = (
        Window.partitionBy(*strata)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        pinned.groupBy("_pid", *strata)
        .agg(F.count(F.lit(1)).alias("_pn"))
        # window over ≤ n_parts × n_strata post-aggregation rows
        .select(
            "_pid",
            *strata,
            F.coalesce(F.sum("_pn").over(w_off), F.lit(0)).alias("_off"),
        )
    )
    w_loc = Window.partitionBy("_pid", *strata).orderBy(*order_by)
    return (
        pinned.join(F.broadcast(offsets), ["_pid", *strata])
        .withColumn(out_col, F.row_number().over(w_loc) + F.col("_off"))
        .drop("_pid", "_off")
    )


def global_ntile(
    df: DataFrame,
    order_by: list,
    k: int,
    out_col: str,
    n_parts: int | None = None,
) -> DataFrame:
    """NTILE(k) over a GLOBAL total order, distributed.

    ntile is a pure function of (global row number, total row count):
    with N rows, the first N % k tiles hold ceil(N/k) rows and the rest
    floor(N/k). Both inputs come from the same prefix-sum machinery as
    ``global_row_number`` (the total rides along on the bounded offsets
    table), so bucket assignment is bit-identical to the single-window
    form — including tie handling, which follows ``order_by`` exactly —
    while no task ever sees more than one range partition.
    """
    from pyspark.sql import Window

    pinned = _range_pinned(df, order_by, n_parts)
    counts = pinned.groupBy("_pid").agg(F.count(F.lit(1)).alias("_pn"))
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = counts.select(
        "_pid",
        F.coalesce(F.sum("_pn").over(w_off), F.lit(0)).alias("_off"),
        F.sum("_pn").over(w_all).alias("_total"),
    )
    w_loc = Window.partitionBy("_pid").orderBy(*order_by)
    rn = F.row_number().over(w_loc) + F.col("_off")
    q = F.floor(F.col("_total") / k).cast("bigint")  # base tile size
    rem = (F.col("_total") % k).cast("bigint")  # first `rem` tiles get q+1
    big = q + F.lit(1)
    cut = big * rem  # rows 1..cut fall in the (q+1)-sized tiles
    # ceil(a/b) as floor((a-1)/b)+1 — exact while a < 2^53 (double mantissa)
    in_big = F.floor((rn - 1) / big) + 1
    in_small = rem + F.floor((rn - cut - 1) / q) + 1
    return (
        pinned.join(F.broadcast(offsets), "_pid")
        .withColumn(
            out_col,
            F.when(rn <= cut, in_big).otherwise(in_small).cast("int"),
        )
        .drop("_pid", "_off", "_total")
    )


def merge_algebraic_aggregates(
    prev: DataFrame,
    delta: DataFrame,
    keys: list[str],
) -> DataFrame:
    """Incremental (materialized-view) refresh for algebraic aggregates.

    ``prev`` and ``delta`` are partial aggregates with identical schemas:
    the group keys plus mergeable measures — counts and sums, which this
    re-aggregation folds with SUM. The refresh cost is
    O(|delta| + |changed groups|), never a rescan of history — at 100 TB
    this is the difference between a nightly delta fold and a full
    recompute. Non-algebraic measures (medians, distincts) need sketch
    representations (see A9's mergeable HLL rollup) — they are NOT valid
    inputs here.

    Exactness contract: keep partial sums in DECIMAL until after the
    merge (cast-to-double per phase would make the two-phase result
    diverge from a direct aggregate by float association noise).
    """
    measures = [c for c in prev.columns if c not in keys]
    return (
        prev.unionByName(delta)
        .groupBy(*keys)
        .agg(*[F.sum(c).alias(c) for c in measures])
    )


def quantile_bucket_assign(
    df: DataFrame,
    val_col: str,
    probs: list[float],
    out_col: str = "bucket",
) -> DataFrame:
    """Value-based quantile binning: exact percentile cutpoints + an
    arithmetic assignment — the SHUFFLE-FREE alternative to
    ``global_ntile`` when equal-count-with-exact-tie semantics aren't
    required. The cutpoints come from the scan-bounded selection
    (``percentile_cont_exact`` — bit-identical to the percentile_cont
    aggregate whose distinct-value buffer is row-bounded on a continuous
    column, the r12 §5 defect class) and are embedded as LITERALS, so
    ``bucket = 1 + Σ (v > c_i)`` (rows equal to a cutpoint land in the
    lower bucket) assigns inside the scan projection: no range
    partitioning, no sort, no window, not even a broadcast — at 100 TB
    the whole operator is two bounded aggregation passes plus a map.
    """
    cuts = percentile_cont_exact(df, val_col, list(probs))
    bucket = F.lit(1)
    for c in cuts:
        bucket = bucket + F.when(
            F.col(val_col) > F.lit(c).cast("double"), 1
        ).otherwise(0)
    return df.withColumn(out_col, bucket.cast("int"))


# --- exact order-statistic selection (scan-bounded, ≤ 2 Spark jobs) ------
#
# One mechanism behind exact_quantiles_twopass (discrete ranks),
# percentile_cont_exact(_grouped) (interpolated positions) and, through
# them, quantile_bucket_assign: histogram refinement. A VALUE-INDEPENDENT
# monotone bucketing (sign-split log2 ladder, ~1024 buckets per octave)
# lets ONE aggregation pass deliver the per-(group, bucket)
# (count, min, max) histogram — no extent pass, no broadcast-built join;
# the driver walks it to each needed rank, and a second pass (the pick)
# runs only when some rank sits strictly inside a multi-valued bucket.

_LOG_BUCKETS_PER_OCTAVE = 1024
# clears ±max|floor(1024·log2(|x|))| (~1.1e6) for every finite double, so
# negative / zero / positive ids can never interleave
_LOG_BUCKET_OFFSET = 2_200_000


def _log_bucket(col):
    """Monotone double → bigint bucket id, no extent needed.

    Weakly monotone by construction: log2 is semi-monotonic (java.lang.Math
    contract), ×1024 is an exact power-of-two scaling, floor is monotone,
    and the sign split keeps negatives < 0-bucket < positives. Monotonicity
    is ALL refinement needs — each bucket is a contiguous value range, so
    exact rank arithmetic over bucket counts stays exact. Resolution is
    ~0.07 % of the value per bucket (2^(1/1024) spacing), and finer near
    zero (where MAD deviations cluster). NULL maps to a NULL bucket; NaN
    is nulled by the caller (divergence from F.percentile, which sorts NaN
    last — documented); non-finite values are outside the contract.
    """
    scaled = lambda c: F.floor(F.log2(c) * _LOG_BUCKETS_PER_OCTAVE)  # noqa: E731
    return (
        F.when(col == 0, F.lit(0))
        .when(col > 0, F.lit(_LOG_BUCKET_OFFSET) + scaled(col))
        .otherwise(F.lit(-_LOG_BUCKET_OFFSET) - scaled(-col))
        .cast("long")
    )


def _walk_histogram(hist: dict, need: dict) -> tuple[dict, list]:
    """Driver-side rank walk over a monotone bucket histogram.

    ``hist`` maps group → [(bucket, count, min, max)] (any order; bucket
    ids only need to be monotone in the value), ``need`` maps group → the
    1-based ranks to select. A rank landing on a bucket edge (offset 1 or
    offset count) or in a single-valued bucket resolves from the bucket's
    min/max; every other rank comes back as ``(g, bucket, rank, offset)``
    — the offset-th smallest value inside that bucket. Returns
    ({g: {rank: value}}, unresolved).
    """
    vals: dict = {}
    unresolved: list = []
    for g, ranks in need.items():
        buckets = sorted(hist[g])
        vals[g] = {}
        cum, i = 0, 0
        for k in sorted(set(ranks)):
            while i < len(buckets):
                b, c, bmin, bmax = buckets[i]
                if cum + c >= k:
                    off = k - cum
                    if bmin == bmax or off == 1:
                        vals[g][k] = float(bmin)
                    elif off == c:
                        vals[g][k] = float(bmax)
                    else:
                        unresolved.append((g, b, k, off))
                    break
                cum += c
                i += 1
    return vals, unresolved


def _select_order_stats(
    df: DataFrame, group_col: str, value_col: str, ranks_of
) -> dict:
    """Each group's order statistics by 1-based rank, in ≤ 2 Spark jobs:
    ``ranks_of(n)`` names the ranks a group of ``n`` non-null values
    needs. Returns {group: (n, {rank: value})}; a group whose values are
    all NULL/NaN is PRESENT with n = 0 and no values (the NULL row the
    F.percentile aggregate emits). NaN counts as NULL.

    Contract: ``group_col`` is low-cardinality — driver state is
    |groups| × populated buckets (≤ a few thousand per group for any
    realistic dynamic range); high-cardinality keys belong to A27.
    """
    from pyspark.sql import Window

    x = F.col(value_col).cast("double")
    v = df.select(
        F.col(group_col).alias("g"),
        F.when(F.isnan(x), None).otherwise(x).alias("x"),
    )
    # JOB 1 — the only unconditional one: per-(group, log-bucket)
    # (count, min, max), one map-combinable aggregation. count(x) skips
    # NULLs, so an all-NULL group still reports (as n = 0); group sizes
    # fall out as bucket-count sums.
    hist: dict = {}
    for r in (
        v.groupBy("g", _log_bucket(F.col("x")).alias("b"))
        .agg(
            F.count("x").alias("c"),
            F.min("x").alias("bmin"),
            F.max("x").alias("bmax"),
        )
        .collect()
    ):
        buckets = hist.setdefault(r["g"], [])
        if r["b"] is not None:
            buckets.append((r["b"], r["c"], r["bmin"], r["bmax"]))
    sizes = {g: sum(c for _b, c, _lo, _hi in bs) for g, bs in hist.items()}
    vals, unresolved = _walk_histogram(
        hist, {g: ranks_of(n) for g, n in sizes.items() if n}
    )
    if unresolved:
        # JOB 2 — target-bucket rows are selected by LITERAL (g, b)
        # predicates and matched to their (rank, offset) via an exploded
        # literal struct array — no broadcast exchange, no createDataFrame
        # — then a per-(g, rank) window picks the offset-th value of the
        # ~n/buckets-sized slice. The bucket id is materialized once per
        # row: codegen does not share the log2 subtree across the
        # when-chain's branches (measured ~+0.8 s at 600k rows × 15).
        by_gb: dict = {}
        for g, b, k, off in unresolved:
            by_gb.setdefault((g, b), []).append((k, off))
        arr = F.array().cast("array<struct<k:bigint,off:bigint>>")
        for (g, b), kos in by_gb.items():
            cond = F.col("g").eqNullSafe(F.lit(g)) & (F.col("_b") == F.lit(b))
            arr = F.when(
                cond,
                F.array(
                    *[
                        F.struct(
                            F.lit(k).cast("bigint").alias("k"),
                            F.lit(off).cast("bigint").alias("off"),
                        )
                        for k, off in kos
                    ]
                ),
            ).otherwise(arr)
        w = Window.partitionBy("g", "t.k").orderBy("x")
        picked = (
            v.withColumn("_b", _log_bucket(F.col("x")))
            .select("g", "x", F.explode(arr).alias("t"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == F.col("t.off"))
            .select("g", F.col("t.k").alias("k"), "x")
        )
        for r in picked.collect():
            vals[r["g"]][int(r["k"])] = float(r["x"])
    return {g: (n, vals.get(g, {})) for g, n in sizes.items()}


def exact_quantiles_twopass(
    df: DataFrame,
    group_col: str,
    value_col: str,
    quantiles: list[float],
) -> DataFrame:
    """EXACT discrete quantiles (the value at rank ``ceil(q*n)``) per
    group WITHOUT a global sort — the scan-bounded scale path next to
    ``F.percentile`` (one sort-based aggregate) and A27's mergeable
    summaries (bounded error).

    The ranks come from ``_select_order_stats`` (≤ 2 driver jobs: the
    log-bucket histogram, plus the pick when a rank falls inside a
    multi-valued bucket); the result is a local relation of the picked
    values, one row per group, columns ``group_col`` (its original field)
    and one double column per quantile (``p50``, ``p100``, ``p12_5``).
    At 100 TB the full relation is only scanned, never sorted or
    range-shuffled. NaN counts as NULL; a group with no non-null value
    gets NULL quantiles. Low-cardinality ``group_col`` only (see
    ``_select_order_stats``).
    """
    import math

    from pyspark.sql.types import DoubleType, StructField, StructType

    def _qname(q: float) -> str:
        # deterministic: p{percent:02d} for 2-dp quantiles (q=0.5 -> p50,
        # q=1.0 -> p100); otherwise fixed-point digits from the Decimal
        # of q*100 (q=0.125 -> p12_5) — Decimal formatting never emits
        # scientific notation or float-repr tail digits (advisor fix:
        # repr(scaled) gave p10_100000000000001 for q=0.101 and 1e-05
        # style output for tiny q)
        from decimal import Decimal

        scaled = q * 100.0
        if abs(scaled - round(scaled)) < 1e-9:
            return f"p{int(round(scaled)):02d}"
        d = (Decimal(repr(q)) * 100).normalize()
        body = format(d, "f")  # plain fixed-point, no exponent
        return "p" + body.replace("-", "m").replace(".", "_")

    names = [_qname(q) for q in quantiles]
    if len(set(names)) != len(names):
        raise ValueError(f"quantile column names collide: {names}")

    def ranks(n: int) -> list[int]:
        # ceil of the IEEE double q*n — both engines multiply the same
        # doubles, so the rank agrees with the oracle's CEIL
        return [max(1, min(int(math.ceil(q * n)), n)) for q in quantiles]

    stats = _select_order_stats(df, group_col, value_col, ranks)
    rows = [
        (g, *([vals[k] for k in ranks(n)] if n else [None] * len(names)))
        for g, (n, vals) in stats.items()
    ]
    schema = StructType(
        [df.schema[group_col]] + [StructField(nm, DoubleType()) for nm in names]
    )
    return df.sparkSession.createDataFrame(rows, schema)


def _interpolate_cont(positions: list[float], vals: dict) -> list[float]:
    """Spark ``PercentileBase.getPercentile`` interpolation, mirrored
    EXACTLY (verified against the 4.1.2 bytecode): early-return when
    floor == ceil or the two keys are equal; otherwise
    (higher − position) · lowerVal + (position − lower) · higherVal in
    that IEEE operation order — Python floats are the same binary64 ops,
    so results are bit-identical to the aggregate's (pinned by tests)."""
    import math

    out = []
    for pos in positions:
        lo_i, hi_i = int(math.floor(pos)), int(math.ceil(pos))
        lo_v, hi_v = vals[lo_i + 1], vals[hi_i + 1]
        if hi_i == lo_i or lo_v == hi_v:
            out.append(lo_v)
        else:
            out.append((float(hi_i) - pos) * lo_v + (pos - float(lo_i)) * hi_v)
    return out


def _ranks_for(positions: list[float]) -> list[int]:
    import math

    need: set[int] = set()
    for pos in positions:
        need.add(int(math.floor(pos)) + 1)
        need.add(int(math.ceil(pos)) + 1)
    return sorted(need)


def percentile_cont_exact(
    df: DataFrame,
    value_col: str,
    percentages: list[float],
) -> list:
    """Exact ``percentile_cont`` values (bit-identical to Spark's
    ``F.percentile`` / DuckDB's WITHIN GROUP form) WITHOUT the sort-based
    aggregate — the global twin of ``exact_quantiles_twopass``.

    Why: ``F.percentile`` buffers one (value, count) entry per DISTINCT
    value and merges + sorts that buffer on a single reducer. On a
    near-continuous column the buffer is row-bounded, not domain-bounded
    (measured r12: 583k distinct prices in 600k lineitem rows → the
    aggregate alone ran ~4 s single-threaded, and at 100 TB it is an
    executor OOM). Histogram refinement finds the two order statistics
    each percentile interpolates between in ≤ 2 scan-bounded jobs (see
    ``_select_order_stats``), with driver state bounded by the populated
    bucket count.

    Returns plain Python floats (the caller embeds them as literals —
    the bounded-model-collect pattern of ivf_train/exact_quantiles).
    An empty / all-null / all-NaN column yields ``None`` per entry
    (matching the aggregate's NULL, advisor r12); NaN values are
    excluded (``F.percentile`` sorts them last — divergence documented
    and pinned in tests/test_scale.py).
    """
    out = percentile_cont_exact_grouped(
        df.select(F.lit(1).alias("_g"), F.col(value_col)),
        "_g",
        value_col,
        percentages,
    )
    return out.get(1, [None] * len(percentages))


def percentile_cont_exact_grouped(
    df: DataFrame,
    group_col: str,
    value_col: str,
    percentages: list[float],
) -> dict:
    """Per-group ``percentile_cont`` values via ``_select_order_stats``
    (same bit-exact Spark interpolation as ``percentile_cont_exact``),
    for LOW-CARDINALITY group keys. Returns {group: [value per
    percentage]}; a group whose values are all null/NaN maps to ``None``
    per percentage — the NULL-valued row the F.percentile aggregate
    emits (``case_by_group`` turns the map into a literal column).
    """

    def positions(n: int) -> list[float]:
        return [float(n - 1) * p for p in percentages]

    stats = _select_order_stats(
        df, group_col, value_col, lambda n: _ranks_for(positions(n))
    )
    return {
        g: _interpolate_cont(positions(n), vals)
        if n
        else [None] * len(percentages)
        for g, (n, vals) in stats.items()
    }


def case_by_group(key_col: str, values: dict) -> Column:
    """``CASE WHEN key <=> g THEN value … ELSE NULL END`` (double) from a
    {group: value} map — how the selection operators' per-group results
    come back into a plan as literals (bounded-model collect: no join, no
    broadcast). ``eqNullSafe`` so a NULL group key still matches its own
    branch (plain ``==`` is never true for NULL)."""
    e = F.lit(None).cast("double")
    for g, val in values.items():
        e = F.when(F.col(key_col).eqNullSafe(F.lit(g)), F.lit(val)).otherwise(e)
    return e
