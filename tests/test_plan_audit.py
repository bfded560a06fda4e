"""Engine-wide plan audit: every declared query's physical plan is free of
scale anti-patterns.

- ``CartesianProduct``: a non-broadcast cross join materializes |L|×|R|
  rows through a shuffle — never acceptable, even in fenced fixture
  twins (those use broadcast nested-loop or kernel shapes instead).
- ``BatchEvalPython`` / ``BatchEvalPythonUDTF``: row-pickled Python
  execution; every Python boundary must be Arrow-batched
  (ArrowEvalPython / ArrowEvalPythonUDTF / mapInPandas / applyInPandas).

Building a query also leaves ``spark.conf.getAll`` unchanged: session
settings are fixed at session start (``session.get_spark``).

Streaming queries are skipped: calling them executes a stream and their
final DataFrame is a memory-sink table scan, so there is no batch plan
to audit (their transformations are audited via the batch twins).
"""

from __future__ import annotations

import pytest

from hg_data_pipelines_spark.queries.common import QUERIES

SF = "/root/testdata/sf0.001"

_SKIP = tuple(n for n in QUERIES if "streaming" in n.lower())
_AUDITED = sorted(n for n in QUERIES if n not in _SKIP)

_FORBIDDEN = ("CartesianProduct", "BatchEvalPython")

# Queries allowed to carry an unpartitioned Window node: the window input
# must be provably bounded (post-aggregation or post-limit), never the
# raw table. Each entry needs a justification.
_GLOBAL_WINDOW_ALLOWED = {
    # rank over the 50 survivors of a TakeOrderedAndProject top-k — the
    # corpus-sized vocabulary never reaches the window
    "X4_zipf_profile",
    # both RRF arms rank the ≤50-row survivors of their own
    # TakeOrderedAndProject shortlist — corpus never reaches a window
    "X3_hybrid_rrf_fusion",
    # trailing 7-day stats over DAILY COUNTS — the window input is the
    # post-aggregation calendar (one row per day, bounded by feed age,
    # ~36.5k rows per century), never the raw events table
    "DQ8_volume_drift",
    # NTILE(2) over the DISTINCT-day calendar (same post-aggregation
    # boundedness as DQ8) to split baseline/current halves — raw events
    # never reach the window
    "DQ10_psi_value_drift",
    # CUSUM prefix-sum/running-min windows over the same post-aggregation
    # daily calendar as DQ8 — raw events never reach the window
    "DQ11_cusum_changepoint",
    # lag() over the per-FILE range table (one row per written file,
    # bounded by the layout's file count) — raw events never reach it
    "S20_range_sorted_write",
}


def _unpartitioned_window_lines(plan: str) -> list[str]:
    """Window nodes with an EMPTY partition spec over unbounded input.

    A partitioned Window prints three bracket groups
    (``[funcs], [part], [order]``); an unpartitioned one only two — and
    Spark plans it above ``Exchange SinglePartition``: every input row
    through ONE task, the definitive 100 TB bottleneck shape. Windows
    ordered by ``_pid`` are the bounded per-partition offsets tables of
    the distributed prefix-sum primitives (``operators/scale.py``,
    ≤ n_partitions post-aggregation rows) and are exempt.
    """
    hits = []
    for line in plan.splitlines():
        stripped = line.lstrip(" +-:*")
        if not stripped.startswith("Window "):
            continue
        if "_pid#" in line:
            continue  # bounded offsets table of a distributed prefix-sum
        if line.count("], [") != 1:
            continue  # three groups = [funcs], [part], [order]: partitioned
        # two groups is either [funcs], [order] (GLOBAL window — flag) or
        # [funcs], [part] (partitioned, unordered — fine); a sort spec is
        # recognizable by its ASC/DESC direction keywords
        tail = line.rsplit("], [", 1)[-1]
        if " ASC " in tail or " DESC " in tail or tail.rstrip("]").endswith(("ASC", "DESC")):
            hits.append(line.strip())
    return hits


@pytest.mark.parametrize("name", _AUDITED)
def test_plan_has_no_scale_antipatterns(spark, name):
    conf = spark.conf.getAll
    df = QUERIES[name](spark, SF)
    # session settings are fixed at session start; no build changes them
    assert spark.conf.getAll == conf, f"{name}: the build changed session conf"
    plan = df._jdf.queryExecution().executedPlan().toString()
    hits = [p for p in _FORBIDDEN if p in plan]
    assert not hits, f"{name}: forbidden plan nodes {hits}"
    if name not in _GLOBAL_WINDOW_ALLOWED:
        gw = _unpartitioned_window_lines(plan)
        assert not gw, f"{name}: unpartitioned global Window over unbounded input:\n" + "\n".join(gw)


class TestGlobalWindowDetector:
    """The fence itself must fire on the anti-pattern and stay quiet on
    the benign shapes (partition-only windows, _pid offsets tables)."""

    def _lines(self, df):
        return _unpartitioned_window_lines(
            df._jdf.queryExecution().executedPlan().toString()
        )

    def test_fires_on_global_ordered_window(self, spark):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        df = spark.range(10).withColumn(
            "rn", F.row_number().over(Window.orderBy("id"))
        )
        assert self._lines(df), "detector must flag a global ordered window"

    def test_fires_on_global_desc_window(self, spark):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        df = spark.range(10).withColumn(
            "rn", F.ntile(4).over(Window.orderBy(F.desc("id")))
        )
        assert self._lines(df)

    def test_quiet_on_partition_only_window(self, spark):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        df = spark.range(10).withColumn("g", F.col("id") % 2)
        df = df.withColumn("t", F.sum("id").over(Window.partitionBy("g")))
        assert not self._lines(df)

    def test_quiet_on_partitioned_ordered_window(self, spark):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        df = spark.range(10).withColumn("g", F.col("id") % 2)
        df = df.withColumn(
            "rn", F.row_number().over(Window.partitionBy("g").orderBy("id"))
        )
        assert not self._lines(df)

    def test_global_primitives_pass_the_fence(self, spark):
        from pyspark.sql import functions as F

        from hg_data_pipelines_spark.operators.scale import (
            global_ntile,
            global_row_number,
            global_running_sum,
        )

        df = spark.range(1000).withColumn("v", (F.col("id") * 7) % 13)
        for out in (
            global_running_sum(df, [F.col("id")], "v", "s"),
            global_row_number(df, [F.desc("v"), F.asc("id")], "rn"),
            global_ntile(df, [F.col("v"), F.col("id")], 4, "b"),
        ):
            assert not self._lines(out)


class TestPlanShapes:
    """Positive plan assertions: key queries carry the physical shape the
    scale design calls for, not just the absence of anti-patterns."""

    def _plan(self, spark, name):
        df = QUERIES[name](spark, SF)
        return df._jdf.queryExecution().executedPlan().toString()

    def test_project_filter_pushes_to_scan(self, spark):
        plan = self._plan(spark, "P1_P5_project_filter")
        assert "PushedFilters: [" in plan and "IsNotNull" in plan
        # column pruning: the scan reads only the 4 selected/filtered cols
        assert "l_comment" not in plan

    def test_dim_lookup_chain_broadcasts_both_dims(self, spark):
        plan = self._plan(spark, "P2_J2_dim_lookup_chain")
        assert plan.count("BroadcastHashJoin") >= 2
        assert "SortMergeJoin" not in plan

    def test_q1_uses_partial_aggregation(self, spark):
        # map-side combine: a partial HashAggregate below the exchange
        plan = self._plan(spark, "A7_q1_pricing_summary")
        assert "partial_" in plan

    def test_skew_plain_twin_honors_merge_hint(self, spark):
        plan = self._plan(spark, "J9_skew90_join_plain")
        assert "SortMergeJoin" in plan

    def test_whole_stage_codegen_present_on_flagship(self, spark):
        # AQE rewrites to the codegen'd final plan only on execution of
        # THIS QueryExecution (a noop write spawns a fresh one) — collect
        # the 6-row result to finalize it
        df = QUERIES["A7_q1_pricing_summary"](spark, SF)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        # "*(n)" prefixes are the WholeStageCodegen span markers
        assert "*(" in plan


class TestObserveMetrics:
    def test_observe_collects_pipeline_telemetry(self, spark):
        """df.observe: named accumulator-style metrics ride the query —
        row counts and sums arrive with the action, no second scan. The
        cluster-friendly way to emit per-stage pipeline health metrics."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from hg_data_pipelines_spark.queries.common import load

        obs = Observation("orders_metrics")
        orders = load(spark, SF, "orders").observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("total"),
            F.max("o_orderdate").alias("max_date"),
        )
        n_out = orders.filter(F.col("o_totalprice") > 0).count()
        got = obs.get
        assert got["n_rows"] >= n_out > 0
        assert float(got["total"]) > 0
        assert got["max_date"] is not None

    def test_hinted_query_broadcasts_and_repartitions(self, spark):
        from hg_data_pipelines_spark.queries.common import QUERIES as Q

        df = Q["SQL_join_hints"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan


class TestWindowGroupLimitPushdown:
    """Constant-k rank filters must push below the exchange
    (WindowGroupLimit partial+final): per-group top-k windows stay
    scale-safe even with few, fat groups because each map task prunes to
    k rows per group before the shuffle. This is why plain windows are
    the right plan for constant limits, while data-dependent limits use
    stratified_row_number (see operators/scale.py)."""

    @pytest.mark.parametrize(
        "name",
        ["X4_tfidf_top_terms", "X4_weighted_sample", "W1_best_order_per_customer"],
    )
    def test_topk_windows_carry_window_group_limit(self, spark, name):
        df = QUERIES[name](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("WindowGroupLimit") >= 2  # partial + final
