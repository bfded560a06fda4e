"""Scale operators: salted join equivalence + bucketed join plan shape.

The bucketing test inspects the physical plan: a join between two tables
bucketed on the join key must run WITHOUT a shuffle exchange on either
side — the pay-the-shuffle-once contract for 100 TB fact⋈fact joins.
"""

from __future__ import annotations

import io
import math
import struct
import sys
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from hg_data_pipelines_spark.operators.scale import (
    read_bucketed,
    salted_join,
    write_bucketed,
)

SF = "/root/testdata/sf0.001"


class TestSaltedJoin:
    def test_result_equals_plain_join(self, spark):
        li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
            "l_orderkey", "l_quantity"
        )
        orders = spark.read.parquet(f"{SF}/orders.parquet").select(
            "o_orderkey", "o_orderstatus"
        )
        plain = li.join(
            orders, li.l_orderkey == orders.o_orderkey
        ).groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_quantity").alias("q"),
        )
        salted = salted_join(
            li, orders.withColumnRenamed("o_orderkey", "l_orderkey"), "l_orderkey"
        ).groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_quantity").alias("q"),
        )
        a = sorted(map(tuple, plain.collect()))
        b = sorted(map(tuple, salted.collect()))
        assert a == b

    def test_skewed_key_spreads_across_salts(self, spark):
        # one key holds 90% of rows — the salting must split it
        rows = [(1, i) for i in range(900)] + [(k, 0) for k in range(2, 102)]
        left = spark.createDataFrame(rows, "k long, v long")
        right = spark.createDataFrame([(1, "hot"), (2, "cold")], "k long, tag string")
        out = salted_join(left, right, "k", n_salts=8)
        assert out.count() == 901
        # the hot key's rows really landed in >1 salt bucket pre-join
        salt = (
            F.xxhash64(F.col("k"), F.col("v")) % 8 + 8
        ) % 8
        n_salt_values = (
            left.filter(F.col("k") == 1)
            .select(salt.cast("int").alias("s"))
            .distinct()
            .count()
        )
        assert n_salt_values > 4


class TestBucketedJoin:
    def test_bucketed_join_has_no_exchange(self, spark, tmp_path):
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            li = spark.read.parquet(f"{SF}/lineitem.parquet")
            orders = spark.read.parquet(f"{SF}/orders.parquet").withColumnRenamed(
                "o_orderkey", "l_orderkey"
            )
            write_bucketed(li, "b_lineitem", "l_orderkey", 8)
            write_bucketed(orders, "b_orders", "l_orderkey", 8)

            joined = read_bucketed(spark, "b_lineitem").join(
                read_bucketed(spark, "b_orders"), "l_orderkey"
            )
            buf = io.StringIO()
            with redirect_stdout(buf):
                joined.explain()
            plan = buf.getvalue()
            assert "Exchange hashpartitioning" not in plan, plan
            assert "SortMergeJoin" in plan

            # and the un-bucketed twin DOES shuffle (the control)
            plain = spark.read.parquet(f"{SF}/lineitem.parquet").join(
                spark.read.parquet(f"{SF}/orders.parquet").withColumnRenamed(
                    "o_orderkey", "l_orderkey"
                ),
                "l_orderkey",
            )
            buf2 = io.StringIO()
            with redirect_stdout(buf2):
                plain.explain()
            assert "Exchange hashpartitioning" in buf2.getvalue()

            # correctness: same row count either way
            assert joined.count() == plain.count()
        finally:
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
            )
            spark.sql("DROP TABLE IF EXISTS b_lineitem")
            spark.sql("DROP TABLE IF EXISTS b_orders")


class TestPartitionedWarehouse:
    def test_date_partitioned_events_prune(self, spark, tmp_path):
        """S9 partition_by: date-partitioned facts prune at the scan —
        the plan's PartitionFilters carries the predicate and the scan
        reads only matching partition directories."""
        from hg_data_pipelines_spark.io import load_table, write_warehouse_table

        ev = load_table(spark, SF, "events").withColumn(
            "event_date", F.to_date("ts")
        )
        wh = str(tmp_path / "wh")
        path = write_warehouse_table(ev, wh, "events", partition_by=["event_date"])

        import os
        parts = [d for d in os.listdir(path) if d.startswith("event_date=")]
        assert len(parts) > 1

        one_day = sorted(parts)[0].split("=")[1]
        scan = spark.read.parquet(path).filter(F.col("event_date") == one_day)

        buf = io.StringIO()
        with redirect_stdout(buf):
            scan.explain()
        plan = buf.getvalue()
        assert "PartitionFilters" in plan
        assert "event_date" in plan.split("PartitionFilters")[1].split("]")[0]
        assert scan.count() > 0

    def test_registered_pipeline_writes_partitioned_fact(self, spark, tmp_path):
        """The events_warehouse pipeline routes partition_by through the S9
        sink, and the declared S9_partitioned_events_pruned query's scan
        carries the slice in PartitionFilters."""
        from hg_data_pipelines_spark.jobs import run_pipeline

        wh = str(tmp_path / "wh_pipe")
        ctx = run_pipeline(spark, "events_warehouse", wh, {"sf_dir": SF})
        path = ctx.reports["events_fact"]["path"]
        import os
        parts = [d for d in os.listdir(path) if d.startswith("event_date=")]
        assert len(parts) == 30  # one dir per fixture day

        pruned = (
            spark.read.parquet(path)
            .filter(F.col("event_date").between("2024-01-10", "2024-01-12"))
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            pruned.explain()
        plan = buf.getvalue()
        assert "PartitionFilters" in plan
        pf = plan.split("PartitionFilters")[1].split("]")[0]
        assert "event_date" in pf
        # pruned scan reads 3 of the 30 day-partitions
        assert pruned.select("event_date").distinct().count() == 3

    def test_dynamic_partition_pruning_in_plan(self, spark):
        """S14: when the partition predicate is data-dependent (join against
        a filtered date dim), static pruning can't fire — Catalyst's DPP
        must inject the broadcast dim into the fact scan as a
        dynamicpruningexpression PartitionFilter."""
        from hg_data_pipelines_spark.queries.warehouse_q import (
            dpp_weekend_dates_plan,
        )

        df = dpp_weekend_dates_plan(spark, SF)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain(True)
        plan = buf.getvalue().lower()
        assert "dynamicpruning" in plan
        # and the pruned aggregate covers exactly Jan-2024's 8 weekend days
        assert df.select("event_date").distinct().count() == 8


class TestTpchPlanShapes:
    """Physical-plan properties of the extended TPC-H queries: Catalyst must
    decompose the disjunctive predicate into per-table pushdowns, broadcast
    every dimension, and keep fact joins to one shuffle family."""

    @staticmethod
    def _plan(spark, name):
        from hg_data_pipelines_spark.queries import QUERIES

        buf = io.StringIO()
        with redirect_stdout(buf):
            QUERIES[name](spark, SF).explain()
        return buf.getvalue()

    def test_q19_or_of_ands_pushes_to_both_scans(self, spark):
        plan = self._plan(spark, "A7_q19_disjunctive_revenue")
        li_scan = next(
            s for s in plan.split("FileScan parquet ") if s.startswith("[l_")
        )
        part_scan = next(
            s for s in plan.split("FileScan parquet ") if s.startswith("[p_")
        )
        # per-table residuals of the OR-of-ANDs reach each scan's DataFilters
        assert "l_quantity" in li_scan.split("DataFilters")[1].split("]")[0]
        assert "p_brand" in part_scan.split("DataFilters")[1].split("]")[0]
        # column pruning: lineitem reads 4 of 11 columns
        read = li_scan.split("]")[0]
        assert read.count(",") == 3
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_q7_broadcasts_all_dims_single_fact_shuffle(self, spark):
        plan = self._plan(spark, "A7_q7_volume_shipping")
        # customer/supplier/nation-pair sides all broadcast; the only
        # sort-merge (if any) is the lineitem-orders fact join
        assert plan.count("BroadcastHashJoin") >= 4
        assert plan.count("SortMergeJoin") <= 1

    def test_q4_exists_is_semi_join(self, spark):
        plan = self._plan(spark, "A7_q4_priority_exists")
        assert "LeftSemi" in plan

    def test_q22_anti_join_shape(self, spark):
        plan = self._plan(spark, "A7_q22_idle_customers")
        assert "LeftAnti" in plan

    def test_q2_correlated_min_is_window_not_self_join(self, spark):
        # the per-part regional MIN must come from one window over the
        # aggregated view — not a second scan/aggregation joined back
        plan = self._plan(spark, "A7_q2_min_cost_supplier")
        assert "Window" in plan
        # one lineitem scan only (the ps aggregate is built once)
        assert sum(1 for s in plan.split("FileScan parquet ") if s.startswith("[l_")) == 1

    def test_q21_exists_and_not_exists_shapes(self, spark):
        plan = self._plan(spark, "A7_q21_waiting_suppliers")
        assert "LeftSemi" in plan
        assert "LeftAnti" in plan

    def test_q16_not_in_is_anti_join_with_broadcast(self, spark):
        plan = self._plan(spark, "A7_q16_supplier_diversity")
        assert "LeftAnti" in plan
        assert "BroadcastHashJoin" in plan


class TestApproxTopK:
    def test_matches_exact_on_skewed_data(self, spark):
        from hg_data_pipelines_spark.operators.scale import approx_top_k

        # Zipf-ish: value i appears ~1000/i times, shuffled across partitions
        rows = [(i,) for i in range(1, 60) for _ in range(1000 // i)]
        df = spark.createDataFrame(rows, "v long").repartition(8)
        got = {(r["v"], r["n"]) for r in approx_top_k(df, "v", k=10).collect()}
        exact = {
            (r["v"], r["n"])
            for r in df.groupBy("v")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), F.asc("v"))
            .limit(10)
            .collect()
        }
        assert got == exact

    def test_counts_are_exact(self, spark):
        from hg_data_pipelines_spark.operators.scale import approx_top_k

        df = spark.createDataFrame([("a",)] * 70 + [("b",)] * 30, "s string")
        out = {r["s"]: r["n"] for r in approx_top_k(df, "s", k=2).collect()}
        assert out == {"a": 70, "b": 30}


class TestRangeClusteredWrite:
    def test_files_cover_disjoint_ranges_and_skip(self, spark, tmp_path):
        import pyarrow.parquet as pq
        from hg_data_pipelines_spark.operators.scale import write_range_clustered

        orders = spark.read.parquet(f"{SF}/orders.parquet")
        path = write_range_clustered(
            orders, str(tmp_path / "rc"), "o_totalprice", n_files=4
        )

        import os
        files = [
            os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
        ]
        assert len(files) >= 3  # range partitioner may merge tiny tails
        ranges = []
        for f in files:
            md = pq.ParquetFile(f).metadata
            names = md.schema.to_arrow_schema().names
            stats = md.row_group(0).column(
                names.index("o_totalprice")
            ).statistics
            ranges.append((stats.min, stats.max))
        ranges.sort()
        # disjoint: each file's min is ≥ the previous file's max
        for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
            assert hi1 <= lo2

        # a selective range predicate can skip all but one file via stats
        lo, hi = ranges[0]
        n_covering = sum(1 for (l, h) in ranges if l <= lo <= h)
        assert n_covering == 1
        # and the data still round-trips completely
        assert spark.read.parquet(path).count() == orders.count()


class TestRuntimeBloomFilter:
    def test_selective_dim_filter_injects_bloom_on_fact_side(self, spark):
        """The 100 TB runtime-filter story: when a selective predicate sits
        on the build side of a shuffle join, Spark injects a bloom_filter_agg
        subquery and a might_contain() pre-filter on the fact scan, shrinking
        the shuffle before it happens. Broadcast joins don't need it (the
        whole build side ships), so the test forces SMJ."""
        from pyspark.sql import functions as F
        from hg_data_pipelines_spark.io import load_table

        confs = {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        }
        old = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            li = load_table(spark, SF, "lineitem")
            o = load_table(spark, SF, "orders").filter(
                F.col("o_orderpriority") == "1-URGENT"
            )
            j = (
                li.join(o, li["l_orderkey"] == o["o_orderkey"])
                .groupBy("o_orderpriority")
                .count()
            )
            plan = j._jdf.queryExecution().optimizedPlan().toString()
            assert "might_contain" in plan
            assert "bloom_filter_agg" in plan
            # correctness unaffected by the runtime filter
            assert j.collect()[0]["count"] > 0
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


class TestZorderClusteredWrite:
    def test_both_dimensions_cluster(self, spark, tmp_path):
        import os
        import pyarrow.parquet as pq
        from hg_data_pipelines_spark.operators.scale import (
            write_range_clustered,
            write_zorder_clustered,
        )

        orders = spark.read.parquet(f"{SF}/orders.parquet")

        def per_file_spans(path, col):
            spans = []
            for f in os.listdir(path):
                if not f.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(os.path.join(path, f)).metadata
                names = md.schema.to_arrow_schema().names
                st = md.row_group(0).column(names.index(col)).statistics
                spans.append(float(st.max) - float(st.min))
            return spans

        z = write_zorder_clustered(
            orders, str(tmp_path / "z"), "o_custkey", "o_totalprice", n_files=16
        )
        r = write_range_clustered(
            orders, str(tmp_path / "r"), "o_custkey", n_files=16
        )

        row = orders.agg(
            F.max("o_custkey") - F.min("o_custkey"),
            F.max("o_totalprice") - F.min("o_totalprice"),
        ).collect()[0]
        cust_span, price_span = float(row[0]), float(row[1])

        z_cust = sum(per_file_spans(z, "o_custkey")) / 16 / cust_span
        z_price = sum(per_file_spans(z, "o_totalprice")) / 16 / price_span
        r_price = sum(per_file_spans(r, "o_totalprice")) / 16 / price_span

        # z-order: BOTH dimensions tight per file (≈ 1/sqrt(16) of global)
        assert z_cust <= 0.5 and z_price <= 0.5
        # single-column range clustering leaves the other dimension wide
        assert r_price >= 2 * z_price
        # layout-only: values unchanged
        assert spark.read.parquet(z).count() == orders.count()


class TestCorpusPlanShapes:
    """The corpus-analytics queries must keep their promised shapes: PII
    redaction shuffles nothing, the contamination probe broadcasts the
    probe side, TF-IDF never cross-joins the exploded terms."""

    @staticmethod
    def _plan(spark, name):
        from hg_data_pipelines_spark.queries import QUERIES

        buf = io.StringIO()
        with redirect_stdout(buf):
            QUERIES[name](spark, SF).explain()
        return buf.getvalue()

    def test_pii_redaction_is_pure_projection(self, spark):
        plan = self._plan(spark, "X4_pii_redaction")
        # No key shuffle: redaction is a narrow per-row projection. The one
        # permitted exchange is io.py's round-robin scan-parallelism
        # repartition of the single-split documents file.
        assert "hashpartitioning" not in plan
        assert "rangepartitioning" not in plan
        assert plan.count("Exchange") <= 1

    def test_contamination_probe_broadcasts_probe_side(self, spark):
        plan = self._plan(spark, "X4_contamination_probe")
        # containment predicate → broadcast nested-loop, corpus side streams
        assert "BroadcastNestedLoopJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_tfidf_no_cartesian_on_terms(self, spark):
        plan = self._plan(spark, "X4_tfidf_top_terms")
        # the only nested-loop is the broadcast of the 1-row n_sources agg
        assert plan.count("CartesianProduct") == 0


class TestAdaptiveSaltedJoin:
    def test_result_parity_under_skew(self, spark):
        from pyspark.sql import functions as F
        from hg_data_pipelines_spark.operators.scale import adaptive_salted_join

        # 90% of left rows share one hot key
        left = spark.range(2000).select(
            F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 50)
            .alias("k"),
            F.col("id").alias("lv"),
        )
        right = spark.range(50).select(
            F.col("id").alias("k"), (F.col("id") * 100).alias("rv")
        )
        plain = left.join(right, "k").select("k", "lv", "rv")
        adaptive = adaptive_salted_join(left, right, "k").select("k", "lv", "rv")
        assert sorted(map(tuple, plain.collect())) == sorted(
            map(tuple, adaptive.collect())
        )

    def test_no_hot_keys_falls_back_to_plain_join(self, spark):
        from pyspark.sql import functions as F
        from hg_data_pipelines_spark.operators.scale import adaptive_salted_join

        left = spark.range(100).select((F.col("id") % 97).alias("k"), "id")
        right = spark.range(97).select(F.col("id").alias("k"))
        out = adaptive_salted_join(left, right, "k", hot_min_fraction=0.5)
        assert out.count() == left.join(right, "k").count()


class TestCostBasedOptimizer:
    def test_analyzed_tables_feed_cbo_estimates(self, spark):
        """ANALYZE TABLE column statistics flow into CBO cardinality
        estimates: with stats, a selective filter's optimized-plan rowCount
        is defined and far below the table's; without CBO/stats Spark only
        has size-based guesses. At 100 TB this is what makes join
        reordering and broadcast decisions trust data, not defaults."""
        from hg_data_pipelines_spark.io import load_table

        confs = {
            "spark.sql.cbo.enabled": "true",
            "spark.sql.cbo.joinReorder.enabled": "true",
        }
        old = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            load_table(spark, SF, "orders").write.mode("overwrite").saveAsTable(
                "cbo_orders"
            )
            spark.sql(
                "ANALYZE TABLE cbo_orders COMPUTE STATISTICS"
                " FOR COLUMNS o_orderkey, o_custkey"
            )
            full_st = spark.table("cbo_orders")._jdf.queryExecution().optimizedPlan().stats()
            sel_st = (
                spark.table("cbo_orders")
                .filter("o_custkey < 10")
                ._jdf.queryExecution()
                .optimizedPlan()
                .stats()
            )
            assert full_st.rowCount().isDefined()
            assert sel_st.rowCount().isDefined()
            n_full = int(str(full_st.rowCount().get()))
            n_sel = int(str(sel_st.rowCount().get()))
            assert n_full > 0
            # the estimate reflects the filter's selectivity, not the table
            assert 0 < n_sel < n_full / 2
        finally:
            spark.sql("DROP TABLE IF EXISTS cbo_orders")
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


class TestMergeAlgebraicAggregates:
    def test_fold_equals_direct_with_new_and_changed_groups(self, spark):
        from hg_data_pipelines_spark.operators.scale import (
            merge_algebraic_aggregates,
        )
        from pyspark.sql import functions as F

        hist = spark.createDataFrame(
            [("a", 10.0), ("a", 5.0), ("b", 1.0)], ["k", "v"]
        )
        # delta changes group a and introduces brand-new group c
        delta = spark.createDataFrame([("a", 2.5), ("c", 7.0)], ["k", "v"])

        def partial(df):
            return df.groupBy("k").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("v").cast("decimal(38,6)")).alias("s"),
            )

        merged = merge_algebraic_aggregates(
            partial(hist), partial(delta), keys=["k"]
        )
        direct = partial(hist.unionByName(delta))
        got = {
            r["k"]: (r["n"], float(r["s"])) for r in merged.collect()
        }
        want = {
            r["k"]: (r["n"], float(r["s"])) for r in direct.collect()
        }
        assert got == want
        assert "c" in got  # delta-only group survives the fold


class TestGlobalOrderPrimitives:
    """Distributed prefix-sum / rank / ntile must be BIT-identical to the
    single-window forms they replace, for any partition count, under
    heavy ties and mixed asc/desc orders."""

    def _df(self, spark, n=997):
        from pyspark.sql import functions as F

        # skewed values with many ties; id is the unique tiebreak
        return (
            spark.range(n)
            .withColumn("v", (F.col("id") * F.col("id")) % 17)
            .withColumn("w", (F.col("id") % 29).cast("int"))
            .repartition(13)  # scramble input layout
        )

    def test_running_sum_matches_global_window(self, spark):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from hg_data_pipelines_spark.operators.scale import global_running_sum

        df = self._df(spark)
        w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, -1)
        want = {
            r["id"]: r["s"]
            for r in df.select(
                "id", F.coalesce(F.sum("w").over(w), F.lit(0)).alias("s")
            ).collect()
        }
        for n_parts in (1, 4, 32):
            got = {
                r["id"]: r["s"]
                for r in global_running_sum(
                    df, [F.col("id")], "w", "s", n_parts=n_parts
                ).collect()
            }
            assert got == want

    def test_inclusive_running_sum(self, spark):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from hg_data_pipelines_spark.operators.scale import global_running_sum

        df = self._df(spark, 200)
        w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
        want = {
            r["id"]: r["s"]
            for r in df.select("id", F.sum("w").over(w).alias("s")).collect()
        }
        got = {
            r["id"]: r["s"]
            for r in global_running_sum(
                df, [F.col("id")], "w", "s", exclusive=False, n_parts=7
            ).collect()
        }
        assert got == want

    def test_row_number_matches_global_window_desc_ties(self, spark):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from hg_data_pipelines_spark.operators.scale import global_row_number

        df = self._df(spark)
        order = [F.desc("v"), F.asc("id")]
        w = Window.orderBy(*order)
        want = {
            r["id"]: r["rn"]
            for r in df.select(
                "id", F.row_number().over(w).alias("rn")
            ).collect()
        }
        for n_parts in (1, 5, 32):
            got = {
                r["id"]: r["rn"]
                for r in global_row_number(
                    df, [F.desc("v"), F.asc("id")], "rn", n_parts=n_parts
                ).collect()
            }
            assert got == want

    def test_ntile_matches_global_window(self, spark):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from hg_data_pipelines_spark.operators.scale import global_ntile

        df = self._df(spark)  # 997 rows: k never divides N evenly
        for k in (2, 4, 8, 100):
            w = Window.orderBy("v", "id")
            want = {
                r["id"]: r["b"]
                for r in df.select(
                    "id", F.ntile(k).over(w).alias("b")
                ).collect()
            }
            got = {
                r["id"]: r["b"]
                for r in global_ntile(
                    df, [F.col("v"), F.col("id")], k, "b", n_parts=9
                ).collect()
            }
            assert got == want

    def test_ntile_more_tiles_than_rows(self, spark):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from hg_data_pipelines_spark.operators.scale import global_ntile

        df = self._df(spark, 5)
        w = Window.orderBy("id")
        want = {
            r["id"]: r["b"]
            for r in df.select("id", F.ntile(8).over(w).alias("b")).collect()
        }
        got = {
            r["id"]: r["b"]
            for r in global_ntile(df, [F.col("id")], 8, "b", n_parts=3).collect()
        }
        assert got == want

    def test_empty_input(self, spark):
        from pyspark.sql import functions as F

        from hg_data_pipelines_spark.operators.scale import (
            global_ntile,
            global_row_number,
            global_running_sum,
        )

        df = self._df(spark).filter(F.col("id") < 0)
        assert global_running_sum(df, [F.col("id")], "w", "s").count() == 0
        assert global_row_number(df, [F.col("id")], "rn").count() == 0
        assert global_ntile(df, [F.col("id")], 4, "b").count() == 0

    def test_running_min_matches_global_window(self, spark):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from hg_data_pipelines_spark.operators.scale import global_running_min

        df = self._df(spark)
        w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, -1)
        want = {
            r["id"]: r["m"]
            for r in df.select("id", F.min("w").over(w).alias("m")).collect()
        }
        for n_parts in (1, 4, 32):
            got = {
                r["id"]: r["m"]
                for r in global_running_min(
                    df, [F.col("id")], "w", "m", n_parts=n_parts
                ).collect()
            }
            assert got == want  # first row NULL in both forms

    def test_running_min_inclusive_and_empty(self, spark):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from hg_data_pipelines_spark.operators.scale import global_running_min

        df = self._df(spark, 200)
        w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
        want = {
            r["id"]: r["m"]
            for r in df.select("id", F.min("w").over(w).alias("m")).collect()
        }
        got = {
            r["id"]: r["m"]
            for r in global_running_min(
                df, [F.col("id")], "w", "m", exclusive=False, n_parts=7
            ).collect()
        }
        assert got == want
        empty = df.filter(F.col("id") < 0)
        assert global_running_min(empty, [F.col("id")], "w", "m").count() == 0


class TestParetoSkyline:
    """O6's prefix-min decomposition must equal the quadratic dominance
    definition on constructed edge cases: ties on one dim, ties on both
    dims (co-survivors), and a strictly-sorted chain."""

    def _skyline_bruteforce(self, rows):
        out = []
        for i, (_, p, s) in enumerate(rows):
            dominated = any(
                xp <= p and xs <= s and (xp < p or xs < s)
                for j, (_, xp, xs) in enumerate(rows)
                if j != i
            )
            if not dominated:
                out.append(rows[i])
        return sorted(out)

    def test_matches_bruteforce_with_ties(self, spark, tmp_path):
        import pyspark.sql.functions as F

        from hg_data_pipelines_spark.queries.relational import pareto_skyline

        rows = [
            # (partkey, price, size): duplicates on both dims co-survive;
            # equal-price larger-size is dominated; chain tail survives
            (1, 10.0, 5), (2, 10.0, 5), (3, 10.0, 7),
            (4, 20.0, 5), (5, 20.0, 3), (6, 30.0, 3),
            (7, 40.0, 1), (8, 40.0, 2), (9, 5.0, 50),
        ]
        df = spark.createDataFrame(
            [(k, f"part {k}", "Brand#23", "TYPE", s, p) for k, p, s in rows],
            "p_partkey long, p_name string, p_brand string, p_type string,"
            " p_size int, p_retailprice double",
        )
        # route through the registered query by writing a minimal part table
        df.write.parquet(f"{tmp_path}/part.parquet")
        got = sorted(
            (r["p_partkey"], r["p_retailprice"], r["p_size"])
            for r in pareto_skyline(spark, str(tmp_path)).collect()
        )
        assert got == self._skyline_bruteforce(rows)


class TestBasketCooccurrence:
    """X20 on constructed baskets: Apriori prune must keep infrequent
    items out of pairs, duplicate lines within an order must not inflate
    counts, and lift must use UNPRUNED supports and the full basket
    total."""

    def test_counts_and_lift(self, spark, tmp_path, monkeypatch):
        import datetime

        from hg_data_pipelines_spark.queries import relational

        monkeypatch.setattr(relational, "_BASKET_MINSUP", 2)
        monkeypatch.setattr(relational, "_BASKET_MINCOOC", 2)
        # baskets: {1,2} {1,2} {1,2,3} {1,4} — part 3 infrequent (1 basket),
        # part 4 frequent only via duplicate lines in ONE basket (support 1
        # after distinct → pruned); order 4 has a dup (partkey 4 twice)
        baskets = [(1, [1, 2]), (2, [1, 2]), (3, [1, 2, 3]), (4, [1, 4, 4])]
        ts = datetime.datetime(2024, 1, 1)
        rows = [
            (ok, pk, 1, i, 1.0, 1.0, 0.0, 0.0, "N", "O", ts)
            for ok, parts in baskets
            for i, pk in enumerate(parts)
        ]
        spark.createDataFrame(
            rows,
            "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
            " l_quantity double, l_extendedprice double, l_discount double,"
            " l_tax double, l_returnflag string, l_linestatus string,"
            " l_shipdate timestamp_ntz",
        ).write.parquet(f"{tmp_path}/lineitem.parquet")
        got = {
            (r["part_a"], r["part_b"]): (r["n_cooc"], r["n_a"], r["n_b"], r["lift"])
            for r in relational.basket_cooccurrence_lift(
                spark, str(tmp_path)
            ).collect()
        }
        # only (1,2) survives: cooc 3, supports 4 and 3, N=4 baskets
        assert got == {(1, 2): (3, 4, 3, 3 * 4 / (4 * 3))}


class TestSaltedJoinHowGuard:
    """Per-`how` soundness: every supported join type must equal the
    plain join; right/full raise (unmatched right rows would appear once
    per salt)."""

    def _sides(self, spark):
        rows = [(1, i) for i in range(50)] + [(k, 0) for k in range(2, 12)]
        left = spark.createDataFrame(rows, "k long, v long")
        right = spark.createDataFrame(
            [(1, "hot"), (2, "cold"), (99, "rightonly")], "k long, tag string"
        )
        return left, right

    @pytest.mark.parametrize(
        "how", ["inner", "left", "left_outer", "left_semi", "semi", "left_anti", "anti"]
    )
    def test_supported_how_equals_plain_join(self, spark, how):
        left, right = self._sides(spark)
        plain = sorted(map(tuple, left.join(right, "k", how).collect()))
        salted = sorted(
            map(tuple, salted_join(left, right, "k", n_salts=4, how=how).collect())
        )
        assert salted == plain

    @pytest.mark.parametrize("how", ["right", "right_outer", "full", "full_outer", "outer", "cross"])
    def test_unsound_how_raises(self, spark, how):
        left, right = self._sides(spark)
        with pytest.raises(ValueError, match="per salt"):
            salted_join(left, right, "k", how=how)

    def test_adaptive_salted_join_left_how(self, spark):
        from hg_data_pipelines_spark.operators.scale import adaptive_salted_join

        left, right = self._sides(spark)
        plain = sorted(map(tuple, left.join(right, "k", "left").collect()))
        got = sorted(
            map(
                tuple,
                adaptive_salted_join(
                    left, right, "k", n_salts=4, how="left",
                    discovery="exact", hot_min_fraction=0.2,
                ).collect(),
            )
        )
        assert got == plain


class TestWeightedSample:
    def test_heavier_items_oversampled(self, spark):
        from pyspark.sql import functions as F

        from hg_data_pipelines_spark.operators.sampling import weighted_sample

        # 500 light (w=1) + 500 heavy (w=50) items: a 100-item weighted
        # sample must be dominated by heavy items (E[heavy] ≈ 98)
        df = spark.range(1000).select(
            F.col("id"),
            F.when(F.col("id") < 500, 1.0).otherwise(50.0).alias("w"),
        )
        got = weighted_sample(df, "w", 100, "id").collect()
        heavy = sum(1 for r in got if r["w"] == 50.0)
        assert len(got) == 100
        assert heavy > 80

    def test_deterministic_across_layouts(self, spark):
        from pyspark.sql import functions as F

        from hg_data_pipelines_spark.operators.sampling import weighted_sample

        df = spark.range(300).select("id", (F.col("id") % 7 + 1.0).alias("w"))
        a = {r["id"] for r in weighted_sample(df, "w", 50, "id").collect()}
        b = {
            r["id"]
            for r in weighted_sample(df.repartition(17), "w", 50, "id").collect()
        }
        assert a == b

    def test_k_at_least_population_returns_all(self, spark):
        from pyspark.sql import functions as F

        from hg_data_pipelines_spark.operators.sampling import weighted_sample

        df = spark.range(20).select("id", F.lit(2.0).alias("w"))
        assert weighted_sample(df, "w", 100, "id").count() == 20

    def test_nonpositive_weights_excluded(self, spark):
        from pyspark.sql import functions as F

        from hg_data_pipelines_spark.operators.sampling import weighted_sample

        df = spark.range(10).select(
            "id", (F.col("id").cast("double") - 5.0).alias("w")
        )
        ids = {r["id"] for r in weighted_sample(df, "w", 100, "id").collect()}
        assert ids == {6, 7, 8, 9}

    def test_stratified_k_per_stratum(self, spark):
        from pyspark.sql import functions as F

        from hg_data_pipelines_spark.operators.sampling import weighted_sample

        df = spark.range(200).select(
            "id", (F.col("id") % 4).alias("g"), F.lit(1.0).alias("w")
        )
        out = weighted_sample(df, "w", 10, "id", strata=["g"])
        per = {r["g"]: r["n"] for r in out.groupBy("g").agg(F.count(F.lit(1)).alias("n")).collect()}
        assert per == {0: 10, 1: 10, 2: 10, 3: 10}
        assert out.filter(F.col("sample_rank") > 10).count() == 0


class TestStratifiedRowNumber:
    def test_matches_per_stratum_window(self, spark):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from hg_data_pipelines_spark.operators.scale import stratified_row_number

        # skewed strata: one group holds ~70% of rows
        df = (
            spark.range(800)
            .withColumn("g", F.when(F.col("id") % 10 < 7, "big").otherwise(
                (F.col("id") % 3).cast("string")))
            .withColumn("v", (F.col("id") * 13) % 41)
            .repartition(11)
        )
        w = Window.partitionBy("g").orderBy("v", "id")
        want = {
            (r["g"], r["id"]): r["rn"]
            for r in df.select("g", "id", F.row_number().over(w).alias("rn")).collect()
        }
        for n_parts in (1, 6, 32):
            got = {
                (r["g"], r["id"]): r["rn"]
                for r in stratified_row_number(
                    df, ["g"], [F.col("v"), F.col("id")], "rn", n_parts=n_parts
                ).collect()
            }
            assert got == want

    def test_no_unpartitioned_window_and_desc_order(self, spark):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from hg_data_pipelines_spark.operators.scale import stratified_row_number

        df = spark.range(100).withColumn("g", (F.col("id") % 2).cast("string"))
        out = stratified_row_number(df, ["g"], [F.desc("id")], "rn")
        w = Window.partitionBy("g").orderBy(F.desc("id"))
        want = {
            (r["g"], r["id"]): r["rn"]
            for r in df.select("g", "id", F.row_number().over(w).alias("rn")).collect()
        }
        got = {(r["g"], r["id"]): r["rn"] for r in out.collect()}
        assert got == want


def test_s21_declared_query_joins_without_exchange(spark):
    """The DECLARED bucketed-join query (not just the operator) must show
    two Bucketed scans feeding a SortMergeJoin with no Exchange below the
    join — the co-location contract the S21 oracle's hash match relies
    on being the same relation computed shuffle-free."""
    from hg_data_pipelines_spark.queries import QUERIES

    df = QUERIES["S21_bucketed_colocated_join"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Bucketed: true") == 2
    assert "SortMergeJoin" in plan
    join_pos = plan.index("SortMergeJoin")
    assert "Exchange" not in plan[join_pos:], "shuffle below the join"


class TestPartitionEvolution:
    def test_week_layout_prunes_and_is_lossless(self, spark):
        """S24: the day->week rewrite creates one dir per ISO week, the
        week slice prunes via PartitionFilters, and content survives."""
        import io as _io
        import os
        from contextlib import redirect_stdout

        from hg_data_pipelines_spark.queries import QUERIES
        from hg_data_pipelines_spark.queries.warehouse_q import _warehouse_dir

        QUERIES["S24_partition_evolution"](spark, SF).collect()
        path = os.path.join(_warehouse_dir(SF), "events_by_week")
        parts = [d for d in os.listdir(path) if d.startswith("event_week=")]
        assert len(parts) == 5  # Jan 2024 spans ISO weeks 1-5

        pruned = spark.read.parquet(path).filter(
            F.col("event_week").isin(2, 3)
        )
        buf = _io.StringIO()
        with redirect_stdout(buf):
            pruned.explain()
        plan = buf.getvalue()
        assert "PartitionFilters" in plan
        assert "event_week" in plan.split("PartitionFilters")[1].split("]")[0]
        assert pruned.select("event_week").distinct().count() == 2


class TestExactQuantilesTwopass:
    """Histogram-refinement exact quantiles: rank-exact without a global
    sort (the declared A28 query's oracle pins engine equality; these pin
    the algorithm's contract directly)."""

    def test_matches_sorted_ground_truth_with_ties(self, spark):
        import math

        from hg_data_pipelines_spark.operators.scale import (
            exact_quantiles_twopass,
        )

        rows = [("a", float(v)) for v in [5, 1, 3, 3, 3, 9, 7, 3, 2, 8]]
        rows += [("b", float(v)) for v in range(100)]
        rows += [("c", 4.0)] * 7  # degenerate group: lo == hi
        df = spark.createDataFrame(rows, "g string, x double").repartition(7)
        got = {
            r["g"]: (r["p50"], r["p90"], r["p99"])
            for r in exact_quantiles_twopass(
                df, "g", "x", [0.5, 0.9, 0.99]
            ).collect()
        }
        data = {"a": sorted([5, 1, 3, 3, 3, 9, 7, 3, 2, 8]),
                "b": list(range(100)), "c": [4.0] * 7}
        for g, xs in data.items():
            n = len(xs)
            want = tuple(
                float(xs[max(1, min(int(math.ceil(q * n)), n)) - 1])
                for q in (0.5, 0.9, 0.99)
            )
            assert got[g] == want, (g, got[g], want)

    def test_output_column_names_deterministic(self, spark):
        """q=1.0 must name p100 (not 'p1.0'), 2-dp quantiles zero-pad,
        and float-identical quantiles raise instead of silently
        colliding (0.5 and 0.50 are the SAME float — callers passing
        both get an error, not a duplicate column)."""
        import pytest

        from hg_data_pipelines_spark.operators.scale import (
            exact_quantiles_twopass,
        )

        df = spark.createDataFrame(
            [("a", float(v)) for v in range(10)], "g string, x double"
        )
        out = exact_quantiles_twopass(df, "g", "x", [0.05, 0.5, 1.0])
        assert out.columns == ["g", "p05", "p50", "p100"]
        row = out.collect()[0]
        assert (row["p05"], row["p50"], row["p100"]) == (0.0, 4.0, 9.0)
        with pytest.raises(ValueError, match="collide"):
            exact_quantiles_twopass(df, "g", "x", [0.5, 0.50])

    def test_no_global_sort_in_plan(self, spark):
        from hg_data_pipelines_spark.operators.scale import (
            exact_quantiles_twopass,
        )

        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        out = exact_quantiles_twopass(
            li, "l_returnflag", "l_extendedprice", [0.5, 0.9]
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        # the full relation is never range-shuffled for ordering — the
        # result is a local relation of the picked values; only the
        # target-bucket slice ever reaches the pick's window
        assert "Exchange rangepartitioning" not in plan


class TestExtremeDoubles:
    """The log-bucket ladder (``_LOG_BUCKET_OFFSET``) claims to clear every
    finite double: ±max, subnormals down to 5e-324, the smallest normal
    and a single-value group select exactly, through both the histogram
    edges and the in-bucket pick (three neighbours share one bucket)."""

    _MAX = sys.float_info.max
    _NORMAL = sys.float_info.min
    _SUB = 5e-324
    _QS = [0.05, 0.1, 0.25, 0.37, 0.5, 0.75, 0.9, 0.99, 1.0]

    def _groups(self):
        top = [self._MAX, math.nextafter(self._MAX, 0)]
        top.append(math.nextafter(top[-1], 0))
        sub = [self._SUB * k for k in (1, 2, 3, 7, 1000, 2**20, 2**20 + 1, 2**20 + 2)]
        return {
            "extremes": top + [-v for v in top] + [
                -self._NORMAL, self._NORMAL, -self._SUB, self._SUB, 0.0, -1.0, 1.0,
            ],
            "subnormal": sub + [-self._SUB, -2 * self._SUB] + [
                math.nextafter(self._NORMAL, 0), self._NORMAL,
                math.nextafter(self._NORMAL, 1),
            ],
            "single": [-self._MAX],
            "ties": [self._MAX] * 5 + [-self._MAX] * 3 + [self._SUB] * 2,
        }

    def _df(self, spark):
        rows = [(g, v) for g, xs in self._groups().items() for v in xs]
        return spark.createDataFrame(rows, "g string, x double").repartition(5)

    @staticmethod
    def _bits(xs):
        return [struct.pack("<d", x) for x in xs]

    def test_twopass_matches_sorted_rank_selection(self, spark):
        from hg_data_pipelines_spark.operators.scale import (
            exact_quantiles_twopass,
        )

        out = exact_quantiles_twopass(self._df(spark), "g", "x", self._QS)
        got = {r[0]: list(r[1:]) for r in out.collect()}
        assert set(got) == set(self._groups())
        for g, xs in self._groups().items():
            xs, n = sorted(xs), len(xs)
            want = [xs[max(1, min(math.ceil(q * n), n)) - 1] for q in self._QS]
            assert self._bits(got[g]) == self._bits(want), (g, got[g], want)

    def test_grouped_cont_matches_f_percentile(self, spark):
        from hg_data_pipelines_spark.operators.scale import (
            percentile_cont_exact_grouped,
        )

        df = self._df(spark)
        ps = [0.0] + self._QS
        ref = {
            r["g"]: [r[f"p{i}"] for i in range(len(ps))]
            for r in df.groupBy("g")
            .agg(*[F.percentile("x", F.lit(p)).alias(f"p{i}") for i, p in enumerate(ps)])
            .collect()
        }
        got = percentile_cont_exact_grouped(df, "g", "x", ps)
        assert set(got) == set(ref) == set(self._groups())
        for g in ref:
            assert self._bits(got[g]) == self._bits(ref[g]), (g, got[g], ref[g])


class TestPercentileContExact:
    """percentile_cont_exact / _grouped must be BIT-identical to Spark's
    sort-based F.percentile aggregate (which itself hash-matches DuckDB's
    percentile_cont) — the r12 replacement for the row-bounded
    distinct-value buffer on near-continuous columns."""

    def test_global_bit_equal_to_f_percentile(self, spark):
        from hg_data_pipelines_spark.operators.scale import (
            percentile_cont_exact,
        )

        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        ps = [0.0, 0.05, 0.37, 0.5, 0.95, 1.0]
        ref = li.agg(
            *[
                F.percentile("l_extendedprice", F.lit(p)).alias(f"p{i}")
                for i, p in enumerate(ps)
            ]
        ).collect()[0]
        got = percentile_cont_exact(li, "l_extendedprice", ps)
        for i in range(len(ps)):
            assert got[i] == ref[f"p{i}"], (ps[i], got[i], ref[f"p{i}"])
        # heavy-ties column exercises the equal-keys early return
        ref_q = li.agg(
            F.percentile("l_quantity", F.lit(0.37)).alias("q")
        ).collect()[0]["q"]
        assert percentile_cont_exact(li, "l_quantity", [0.37])[0] == ref_q

    def test_grouped_bit_equal_to_f_percentile(self, spark):
        from hg_data_pipelines_spark.operators.scale import (
            percentile_cont_exact_grouped,
        )

        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        ps = [0.5, 0.9, 0.99]
        ref = {
            r["l_returnflag"]: [r["p0"], r["p1"], r["p2"]]
            for r in li.groupBy("l_returnflag")
            .agg(
                *[
                    F.percentile("l_extendedprice", F.lit(p)).alias(f"p{i}")
                    for i, p in enumerate(ps)
                ]
            )
            .collect()
        }
        got = percentile_cont_exact_grouped(
            li, "l_returnflag", "l_extendedprice", ps
        )
        assert set(got) == set(ref)
        for g in ref:
            assert got[g] == ref[g], (g, got[g], ref[g])

    def test_nan_excluded_and_empty_is_none(self, spark):
        """Pinned boundary (r12 verdict #4 / advisor): NaN values are
        EXCLUDED from the selection (F.percentile would sort them last —
        a documented divergence; no declared query feeds NaN), and an
        empty/all-null column yields None (the aggregate's NULL), not
        NaN. A group with no non-null value is present with None — the
        NULL-valued row the grouped aggregate emits."""
        from hg_data_pipelines_spark.operators.scale import (
            percentile_cont_exact,
            percentile_cont_exact_grouped,
        )

        df = spark.createDataFrame(
            [(1.0,), (2.0,), (float("nan"),)], "x double"
        )
        assert percentile_cont_exact(df, "x", [0.5]) == [1.5]
        empty = df.filter("x < 0")
        assert percentile_cont_exact(empty, "x", [0.5]) == [None]
        gdf = spark.createDataFrame(
            [("a", 1.0), ("a", 2.0), ("b", float("nan")), ("c", None)],
            "g string, x double",
        )
        got = percentile_cont_exact_grouped(gdf, "g", "x", [0.5])
        # all-NaN / all-null groups are present as None; real groups exact
        assert got == {"a": [1.5], "b": [None], "c": [None]}
