"""Data-quality operators (operators/quality.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hg_data_pipelines_spark.operators.quality import (
    Constraint,
    check_constraints,
    profile,
    require,
)


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(
        [(1, 10.0, "a"), (2, None, "b"), (3, 30.0, None), (3, 30.0, "c")],
        "id long, v double, s string",
    )


class TestProfile:
    def test_counts_nulls_distincts_numeric_stats(self, df):
        rows = {r["column"]: r for r in profile(df, exact_distinct=True).collect()}
        assert rows["id"]["n_rows"] == 4
        assert rows["id"]["n_null"] == 0
        assert rows["id"]["n_distinct"] == 3
        assert rows["v"]["n_null"] == 1
        assert rows["v"]["min_value"] == 10.0
        assert rows["v"]["max_value"] == 30.0
        assert rows["s"]["n_null"] == 1
        # non-numeric columns carry null numeric stats
        assert rows["s"]["min_value"] is None

    def test_single_aggregation_pass(self, df):
        import io as _io
        from contextlib import redirect_stdout

        buf = _io.StringIO()
        with redirect_stdout(buf):
            profile(df, exact_distinct=False).explain()
        # approximate form keeps the profile to ONE aggregate over one scan
        # (exact multi-column count_distinct legitimately expands)
        assert buf.getvalue().count("Exchange") <= 1


class TestConstraints:
    def test_violations_count_null_as_violation(self, df):
        out = {
            r["constraint"]: (r["n_violations"], r["passed"])
            for r in check_constraints(
                df,
                [
                    Constraint("v_positive", F.col("v") > 0),
                    Constraint("id_le_3", F.col("id") <= 3),
                ],
            ).collect()
        }
        # the NULL v row must count as a violation (three-valued logic)
        assert out["v_positive"] == (1, False)
        assert out["id_le_3"] == (0, True)

    def test_require_raises_with_detail(self, df):
        with pytest.raises(ValueError, match="v_positive"):
            require(df, [Constraint("v_positive", F.col("v") > 0)])

    def test_require_passes_silently(self, df):
        require(df, [Constraint("id_positive", F.col("id") > 0)])


class TestObservedFilter:
    def test_metrics_ride_the_main_action(self, spark):
        from pyspark.sql import functions as F

        from hg_data_pipelines_spark.operators.quality import observed_filter

        df = spark.range(100).withColumn("v", F.col("id") % 10)
        kept, obs = observed_filter(df, F.col("v") < 3, name="small_v")
        assert kept.count() == 30  # the action; also populates obs
        assert obs.get == {"n_input": 100, "n_pass": 30}


class TestReferentialIntegrity:
    def test_orphans_and_null_fks(self, spark):
        from hg_data_pipelines_spark.operators.quality import (
            ForeignKey,
            referential_integrity,
        )

        fact = spark.createDataFrame(
            [(1, 10), (2, 20), (3, 99), (4, None)], "id long, fk long"
        )
        dim = spark.createDataFrame([(10,), (20,)], "pk long")
        out = referential_integrity(
            [ForeignKey("fact.fk->dim.pk", fact, "fk", dim, "pk")]
        ).collect()
        assert len(out) == 1
        r = out[0]
        # NULL fk is an optional reference, not checked and not an orphan
        assert r["n_checked"] == 3
        assert r["n_orphans"] == 1
        assert r["passed"] is False

    def test_clean_relation_passes(self, spark):
        from hg_data_pipelines_spark.operators.quality import (
            ForeignKey,
            referential_integrity,
        )

        fact = spark.createDataFrame([(1, 10)], "id long, fk long")
        dim = spark.createDataFrame([(10,), (20,)], "pk long")
        r = referential_integrity(
            [ForeignKey("ok", fact, "fk", dim, "pk")]
        ).collect()[0]
        assert r["n_orphans"] == 0 and r["passed"] is True


class TestUniqueness:
    def test_duplicate_and_clean_keys(self, spark):
        from hg_data_pipelines_spark.operators.quality import check_uniqueness

        dup = spark.createDataFrame(
            [(1, "a"), (1, "b"), (2, "c")], "k long, v string"
        )
        out = {
            r["key"]: (r["n_rows"], r["n_distinct"], r["n_dup_rows"], r["passed"])
            for r in check_uniqueness(
                [("dup.k", dup, ["k"]), ("clean.kv", dup, ["k", "v"])]
            ).collect()
        }
        assert out["dup.k"] == (3, 2, 1, False)
        assert out["clean.kv"] == (3, 3, 0, True)

    def test_nullable_keys_count_as_keys(self, spark):
        """NULL-containing key tuples are real keys (SQL DISTINCT-subquery
        semantics): a unique nullable key passes; two identical all-NULL
        keys are duplicates of each other."""
        from hg_data_pipelines_spark.operators.quality import check_uniqueness

        nk = spark.createDataFrame(
            [(1, "a"), (None, "b"), (2, None), (2, "c")],
            "k bigint, v string",
        )
        nn = spark.createDataFrame(
            [(None, "x"), (None, "x"), (1, "y")], "k bigint, v string"
        )
        out = {
            r["key"]: (r["n_rows"], r["n_distinct"], r["n_dup_rows"], r["passed"])
            for r in check_uniqueness(
                [("unique_nullable", nk, ["k", "v"]), ("dup_nulls", nn, ["k", "v"])]
            ).collect()
        }
        # all 4 tuples distinct even though two contain a NULL
        assert out["unique_nullable"] == (4, 4, 0, True)
        # (NULL,'x') twice is one distinct key, one duplicate row
        assert out["dup_nulls"] == (3, 2, 1, False)

    def test_empty_checks_raise(self, spark):
        from hg_data_pipelines_spark.operators.quality import (
            check_uniqueness,
            referential_integrity,
        )

        with pytest.raises(ValueError, match="no checks"):
            check_uniqueness([])
        with pytest.raises(ValueError, match="no relations"):
            referential_integrity([])


class TestCusumChangepoint:
    def test_level_shift_fires_and_math_matches_recursive_reference(
        self, spark, tmp_path
    ):
        # 20 quiet days at ~100/day, then a persistent +30% shift: a
        # rolling z-score barely notices any single day, but CUSUM
        # accumulates the shift. Also re-derives the closed
        # prefix-sum/min identity against the literal recursive fold.
        import os
        from datetime import datetime, timedelta

        from hg_data_pipelines_spark.queries.quality_q import cusum_changepoint

        rows = []
        eid = 0
        for d in range(30):
            n = 100 + (d % 3) if d < 20 else 130 + (d % 3)
            for i in range(n):
                rows.append(
                    (
                        eid,
                        datetime(2024, 1, 1) + timedelta(days=d, seconds=i),
                        eid % 7,
                        "view",
                        1.0,
                        "{}",
                    )
                )
                eid += 1
        df = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long,"
            " event_type string, value double, props string",
        )
        sf = str(tmp_path / "sf")
        os.makedirs(sf, exist_ok=True)
        df.write.mode("overwrite").parquet(os.path.join(sf, "events.parquet"))

        out = {
            str(r["day"]): r for r in cusum_changepoint(spark, sf).collect()
        }
        # recursive reference fold in exact scaled integers
        daily = sorted(
            (str(r["day"]), r["n_events"]) for r in out.values()
        )
        t = sum(n for _, n in daily)
        d_cnt = len(daily)
        slack = t // 20
        su = sd = 0
        fired = False
        for day, n in daily:
            su = max(0, su + (d_cnt * n - t) - slack)
            sd = max(0, sd + (t - d_cnt * n) - slack)
            assert out[day]["cusum_up"] == su and out[day]["cusum_down"] == sd
            if su > t // 4 or sd > t // 4:
                assert out[day]["changepoint"]
                fired = True
        assert fired, "persistent +30% shift must trip the CUSUM threshold"


class TestPsiValueDrift:
    def test_all_null_baseline_event_type_matches_oracle(self, spark, tmp_path):
        """An event type whose baseline-half values are all NULL keeps its
        row: the declared SQL's cuts are NULL for it (every row lands in
        bin 1), so the Spark side must not drop it from the cut map."""
        import duckdb
        import pyarrow.parquet as pq

        from hg_data_pipelines_spark.queries import ORACLES, QUERIES
        from tools.check_correctness import table_hash

        src = "/root/testdata/sf0.001/events.parquet"
        dst = str(tmp_path / "events.parquet")
        con = duckdb.connect()
        nulled = con.execute(
            f"""
            WITH days AS (
                SELECT day, NTILE(2) OVER (ORDER BY day) AS half
                FROM (SELECT DISTINCT CAST(ts AS DATE) AS day
                      FROM read_parquet('{src}'))
            )
            SELECT e.* REPLACE (
                CASE WHEN e.event_type = 'purchase' AND d.half = 1
                     THEN NULL ELSE e.value END AS value)
            FROM read_parquet('{src}') e
            JOIN days d ON CAST(e.ts AS DATE) = d.day
            ORDER BY e.event_id
            """
        ).arrow()
        pq.write_table(nulled.cast(pq.read_schema(src)), dst)
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{dst}')"
        )
        res = con.execute(ORACLES["DQ10_psi_value_drift"])
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        assert "purchase" in {r[ocols.index("event_type")] for r in orows}

        sdf = QUERIES["DQ10_psi_value_drift"](spark, str(tmp_path))
        srows = sdf.collect()
        assert table_hash(
            sdf.columns, [[r[c] for c in sdf.columns] for r in srows]
        ) == table_hash(ocols, orows)
