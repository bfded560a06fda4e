"""Scheduled-job layer: run the registered pipelines end-to-end through
``run_pipeline`` — stages materialize Parquet in topological order, reports
carry the Dagster-style schema/rows metadata, and DuckDB (the warehouse
consumer) reads every landed table."""

from __future__ import annotations

import json

import duckdb
import numpy as np
import pytest

from hg_data_pipelines_spark.jobs import get_pipeline, run_pipeline

from test_pipelines import _fixture_pose, _fixture_results


@pytest.fixture(scope="module")
def job_fixtures(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("jobs")
    results_path, photos = _fixture_results(tmp)
    pose_path = _fixture_pose(tmp, photos)
    return {"results": results_path, "pose": pose_path, "tmp": tmp}


def _box_mesh():
    cx, cy, cz, s = 582102.0, 6002248.0, 97.3, 50.0
    v = np.array(
        [[cx - s, cy - s, cz - s], [cx + s, cy - s, cz - s],
         [cx + s, cy + s, cz - s], [cx - s, cy + s, cz - s],
         [cx - s, cy - s, cz + s], [cx + s, cy - s, cz + s],
         [cx + s, cy + s, cz + s], [cx - s, cy + s, cz + s]]
    )
    tris = []
    for a, b, c, d in [(0, 1, 2, 3), (4, 5, 6, 7), (0, 1, 5, 4),
                       (2, 3, 7, 6), (1, 2, 6, 5), (0, 3, 7, 4)]:
        tris += [[v[a], v[b], v[c]], [v[a], v[c], v[d]]]
    return np.array(tris)


class TestJobLayer:
    def test_detected_objects_pipeline(self, spark, job_fixtures):
        wh = str(job_fixtures["tmp"] / "wh1")
        ctx = run_pipeline(
            spark,
            "detected_objects_processing",
            wh,
            {"results_json_path": job_fixtures["results"]},
        )
        rep = ctx.reports["detected_objects"]
        assert rep["rows"] == 40
        assert "polygon:string" in rep["schema"]
        # warehouse consumer: DuckDB reads the landed table directly (S9)
        con = duckdb.connect()
        n = con.execute(
            f"SELECT count(*) FROM read_parquet('{wh}/detected_objects/*.parquet')"
        ).fetchone()[0]
        assert n == 40

    def test_street_level_pipeline_chain(self, spark, job_fixtures):
        wh = str(job_fixtures["tmp"] / "wh2")
        ctx = run_pipeline(
            spark,
            "street_level_grouping",
            wh,
            {
                "results_json_path": job_fixtures["results"],
                "pose_csv_path": job_fixtures["pose"],
                "mesh_triangles": _box_mesh(),
            },
        )
        # stages ran in order and materialized
        assert list(ctx.reports) == [
            "grouped_detected_objects",
            "best_lines_3d",
            "point_and_mesh_intersection",
        ]
        assert ctx.reports["grouped_detected_objects"]["rows"] == 40
        assert ctx.reports["best_lines_3d"]["rows"] > 0
        final = ctx.reports["point_and_mesh_intersection"]
        assert final["rows"] > 0
        con = duckdb.connect()
        n = con.execute(
            f"SELECT count(*) FROM read_parquet('{wh}/point_and_mesh_intersection/*.parquet')"
        ).fetchone()[0]
        assert n == final["rows"]

    def test_street_level_pipeline_empty_mesh(self, spark, job_fixtures):
        # A mesh file with no faces loads as (0, 3, 3): every ray misses,
        # so every point lands unchanged.
        from hg_data_pipelines_spark.pipelines.wall_extraction import (
            parse_obj_triangles,
            parse_stl_triangles,
        )

        tris = parse_obj_triangles("v 0 0 0\nv 1 0 0\nv 0 1 0\n")
        stl = parse_stl_triangles(b"\x00" * 80 + (0).to_bytes(4, "little"))
        assert tris.shape == stl.shape == (0, 3, 3)
        wh = str(job_fixtures["tmp"] / "wh_empty_mesh")
        ctx = run_pipeline(
            spark,
            "street_level_grouping",
            wh,
            {
                "results_json_path": job_fixtures["results"],
                "pose_csv_path": job_fixtures["pose"],
                "mesh_triangles": tris,
            },
        )

        def polygons(table):
            rows = ctx.tables[table].select("file_name", "obj_idx", "polygon_3d")
            return sorted((r[0], r[1], r[2]) for r in rows.collect())

        # the stage drops single-point polygons (P7, reference :208)
        best = [r for r in polygons("best_lines_3d") if len(r[2]) > 1]
        assert best and polygons("point_and_mesh_intersection") == best
        assert ctx.reports["point_and_mesh_intersection"]["rows"] == len(best)

    def test_rerun_is_idempotent(self, spark, job_fixtures):
        wh = str(job_fixtures["tmp"] / "wh3")
        cfg = {"results_json_path": job_fixtures["results"], "with_uuid": False}
        r1 = run_pipeline(spark, "detected_objects_processing", wh, cfg)
        r2 = run_pipeline(spark, "detected_objects_processing", wh, cfg)
        assert r1.reports["detected_objects"]["rows"] == r2.reports[
            "detected_objects"
        ]["rows"]

    def test_unknown_pipeline_raises(self, spark):
        with pytest.raises(KeyError):
            get_pipeline("no_such_pipeline")


def _box_mesh_obj_text():
    """The _box_mesh() cube as OBJ text (quads; the parser fan-triangulates
    them into the same 12 triangles)."""
    cx, cy, cz, s = 582102.0, 6002248.0, 97.3, 50.0
    v = [
        [cx - s, cy - s, cz - s], [cx + s, cy - s, cz - s],
        [cx + s, cy + s, cz - s], [cx - s, cy + s, cz - s],
        [cx - s, cy - s, cz + s], [cx + s, cy - s, cz + s],
        [cx + s, cy + s, cz + s], [cx - s, cy + s, cz + s],
    ]
    quads = [(0, 1, 2, 3), (4, 5, 6, 7), (0, 1, 5, 4),
             (2, 3, 7, 6), (1, 2, 6, 5), (0, 3, 7, 4)]
    lines = [f"v {x} {y} {z}" for x, y, z in v]
    lines += ["f " + " ".join(str(i + 1) for i in q) for q in quads]
    return "\n".join(lines)


class TestCli:
    def test_parse_obj_triangles_matches_box_mesh(self):
        from hg_data_pipelines_spark.pipelines.wall_extraction import (
            parse_obj_triangles,
        )

        tris = parse_obj_triangles(_box_mesh_obj_text())
        np.testing.assert_allclose(tris, _box_mesh())

    def test_config_coercion(self):
        from hg_data_pipelines_spark.__main__ import _coerce

        assert _coerce("8000") == 8000 and isinstance(_coerce("8000"), int)
        assert _coerce("0.5") == 0.5 and isinstance(_coerce("0.5"), float)
        assert _coerce("true") is True and _coerce("False") is False
        assert _coerce("path/to/x.json") == "path/to/x.json"

    def test_cli_runs_street_level_grouping(self, job_fixtures):
        # subprocess: main() owns (and stops) its SparkSession, so the CLI
        # must not share the test session. This is the exact invocation the
        # scheduler would issue, mesh OBJ included.
        import subprocess
        import sys

        obj_path = str(job_fixtures["tmp"] / "box.obj")
        with open(obj_path, "w") as fh:
            fh.write(_box_mesh_obj_text())
        wh = str(job_fixtures["tmp"] / "wh_cli")
        proc = subprocess.run(
            [
                sys.executable, "-m", "hg_data_pipelines_spark", "run",
                "street_level_grouping",
                "--warehouse", wh,
                "--mesh-obj", obj_path,
                "--config",
                f"results_json_path={job_fixtures['results']}",
                f"pose_csv_path={job_fixtures['pose']}",
                "pano_width=8000",
            ],
            capture_output=True, text=True, timeout=600,
            env={**__import__("os").environ, "SPARK_GRAFT_CPUS": "4"},
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        assert "point_and_mesh_intersection" in proc.stdout


class TestFileSinks:
    """S7/S8: CSV and JSON-lines sinks round-trip through their own source
    counterparts with schema and values intact."""

    def test_csv_sink_roundtrip(self, spark, tmp_path):
        from hg_data_pipelines_spark.io import write_csv

        df = spark.createDataFrame(
            [(1, "a,b", 1.5), (2, "plain", -0.25), (3, None, 0.0)],
            "id long, label string, score double",
        )
        out = str(tmp_path / "csv_out")
        write_csv(df, out, single_file=True)
        back = spark.read.csv(
            out, header=True, schema="id long, label string, score double"
        )
        assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))

    def test_csv_sink_tab_separator(self, spark, tmp_path):
        from hg_data_pipelines_spark.io import write_csv

        df = spark.createDataFrame([(1, "x y")], "id long, label string")
        out = str(tmp_path / "tsv_out")
        write_csv(df, out, single_file=True, sep="\t")
        import glob

        (part,) = glob.glob(f"{out}/part-*.csv")
        with open(part) as fh:
            lines = fh.read().splitlines()
        assert lines[0] == "id\tlabel"
        assert lines[1] == "1\tx y"

    def test_orc_roundtrip_with_pushdown(self, spark, tmp_path):
        import io as _io
        from contextlib import redirect_stdout

        from hg_data_pipelines_spark.io import read_orc, write_orc
        from pyspark.sql import functions as F

        src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        out = write_orc(src, str(tmp_path / "orc_out"))
        back = read_orc(spark, out)
        assert back.count() == src.count()
        assert back.schema == src.schema

        scan = back.filter(F.col("o_orderkey") < 100).select("o_orderkey")
        buf = _io.StringIO()
        with redirect_stdout(buf):
            scan.explain()
        plan = buf.getvalue()
        # predicate and projection reach the ORC reader
        assert "PushedFilters" in plan and "o_orderkey" in plan

    def test_json_sink_roundtrip_nested(self, spark, tmp_path):
        from hg_data_pipelines_spark.io import write_json

        df = spark.createDataFrame(
            [(1, {"a": 2}, [1, 2, 3]), (2, {"a": 5}, [])],
            "id long, obj struct<a:long>, arr array<long>",
        )
        out = str(tmp_path / "json_out")
        write_json(df, out, single_file=True)
        back = spark.read.json(
            out, schema="id long, obj struct<a:long>, arr array<long>"
        )
        got = {r["id"]: (r["obj"]["a"], list(r["arr"])) for r in back.collect()}
        assert got == {1: (2, [1, 2, 3]), 2: (5, [])}


class TestJsonQuarantine:
    def test_good_and_bad_records_split(self, spark, tmp_path):
        from pyspark.sql import types as T

        from hg_data_pipelines_spark.io import read_json_with_quarantine

        p = tmp_path / "mixed.jsonl"
        p.write_text(
            '{"id": 1, "name": "ok"}\n'
            '{"id": 2, "name": "also ok"}\n'
            '{"id": "NOT A NUMBER", "name": 3}\n'
            "this is not json at all\n"
        )
        schema = T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("name", T.StringType()),
            ]
        )
        good, bad = read_json_with_quarantine(spark, str(p), schema)
        assert {r["id"] for r in good.collect()} == {1, 2}
        assert good.columns == ["id", "name"]
        raws = [r["raw_record"] for r in bad.collect()]
        assert len(raws) == 2
        # quarantine preserves the exact offending text for replay
        assert any("NOT A NUMBER" in r for r in raws)
        assert any("not json at all" in r for r in raws)


class TestCorpusNeardupMethod:
    def test_minhash_path_runs_and_filters_monotonically(self, spark, tmp_path):
        ctx = run_pipeline(
            spark,
            "llm_corpus_curation",
            str(tmp_path / "wh"),
            {
                "sf_dir": "/root/testdata/sf0.001",
                "jaccard_threshold": 0.3,
                "neardup_method": "minhash",
            },
        )
        r = ctx.reports
        assert r["corpus_exact_dedup"]["rows"] >= r["corpus_neardup"]["rows"]
        assert r["corpus_neardup"]["rows"] > 0


class TestCompaction:
    def test_small_files_compacted_content_preserved(self, spark, tmp_path):
        from hg_data_pipelines_spark.io import compact_table, load_table

        path = str(tmp_path / "frag")
        ev = load_table(spark, "/root/testdata/sf0.001", "events")
        # fragment: many tiny files, partitioned by event_type
        ev.withColumn("event_date", ev.ts.cast("date")).repartition(
            40
        ).write.partitionBy("event_type").parquet(path)

        import os

        before = sum(
            1
            for r, _d, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        )
        want = spark.read.parquet(path).groupBy("event_type").count().collect()

        n_after = compact_table(spark, path, target_file_bytes=64 * 1024 * 1024)
        assert n_after < before

        got = spark.read.parquet(path).groupBy("event_type").count().collect()
        assert sorted((r["event_type"], r["count"]) for r in got) == sorted(
            (r["event_type"], r["count"]) for r in want
        )
        # partition layout (pruning) preserved
        assert any(d.startswith("event_type=") for d in os.listdir(path))

    def test_compact_with_zorder_reclusters(self, spark, tmp_path):
        """zorder_by during compaction: content preserved AND per-file
        min/max spans shrink on both clustering columns."""
        import glob
        import os

        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from hg_data_pipelines_spark.io import compact_table

        path = str(tmp_path / "t")
        n = 4096
        spark.range(n).select(
            "id",
            (F.col("id") * 48271 % n).alias("x"),
            (F.col("id") * 16807 % n).alias("y"),
        ).repartition(32).write.parquet(path)

        n_after = compact_table(
            spark, path, target_file_bytes=6_000, zorder_by=["x", "y"]
        )
        assert n_after < 32
        back = spark.read.parquet(path)
        assert back.count() == n
        assert "_z" not in back.columns

        def avg_span(col):
            spans = []
            for f in glob.glob(os.path.join(path, "*.parquet")):
                md = pq.ParquetFile(f).metadata
                idx = {
                    md.schema.column(i).name: i
                    for i in range(md.num_columns)
                }[col]
                lo = min(
                    md.row_group(g).column(idx).statistics.min
                    for g in range(md.num_row_groups)
                )
                hi = max(
                    md.row_group(g).column(idx).statistics.max
                    for g in range(md.num_row_groups)
                )
                spans.append(hi - lo)
            return sum(spans) / len(spans) / n

        assert n_after >= 8  # 83KB input / 6KB target -> ~14 files
        assert avg_span("x") < 0.7 and avg_span("y") < 0.7

    def test_compact_with_hilbert_curve(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from hg_data_pipelines_spark.io import compact_table

        path = str(tmp_path / "t")
        n = 2048
        spark.range(n).select(
            "id",
            (F.col("id") * 48271 % n).alias("x"),
            (F.col("id") * 16807 % n).alias("y"),
        ).repartition(16).write.parquet(path)
        compact_table(
            spark, path, target_file_bytes=6_000,
            zorder_by=["x", "y"], curve="hilbert",
        )
        assert spark.read.parquet(path).count() == n
