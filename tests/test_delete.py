"""Targeted key deletion (io.delete_from_warehouse_table, S19)."""

from __future__ import annotations

import os

import duckdb

from hg_data_pipelines_spark.io import (
    delete_from_warehouse_table,
    write_warehouse_table,
)
from hg_data_pipelines_spark.session import cut_lineage


def _rows(path):
    return {
        tuple(r)
        for r in duckdb.connect()
        .execute(f"SELECT id, v, day FROM read_parquet('{path}/*/*.parquet')")
        .fetchall()
    }


def _mtimes(part_dir):
    return {
        f: os.path.getmtime(os.path.join(part_dir, f))
        for f in os.listdir(part_dir)
    }


class TestDeleteFromWarehouseTable:
    def _seed(self, spark, tmp_path):
        wh = str(tmp_path / "wh")
        seed = spark.createDataFrame(
            [
                (1, 10.0, "d1"),
                (2, 20.0, "d1"),
                (3, 30.0, "d2"),
                (2, 21.0, "d3"),  # key 2 spans two partitions
            ],
            "id long, v double, day string",
        )
        path = write_warehouse_table(seed, wh, "t", partition_by=["day"])
        return wh, path

    def test_deletes_keys_and_leaves_untouched_partitions_alone(
        self, spark, tmp_path
    ):
        wh, path = self._seed(spark, tmp_path)
        untouched = os.path.join(path, "day=d2")
        before = _mtimes(untouched)

        keys = spark.createDataFrame([(2,)], "id long")
        _, n = delete_from_warehouse_table(
            spark, wh, "t", keys, ["id"], partition_by=["day"]
        )

        assert n == 2  # both partitions' copies of key 2
        assert _rows(path) == {(1, 10.0, "d1"), (3, 30.0, "d2")}
        # d2 contains no deleted key -> its files were never rewritten
        assert _mtimes(untouched) == before

    def test_reliable_cuts_delete(
        self, spark, tmp_path, reliable_cuts, monkeypatch
    ):
        # with a session checkpoint directory the pinned remainder is a
        # reliable checkpoint: the rewrite reads it, not the files it
        # replaces
        from hg_data_pipelines_spark import io

        held = []  # Spark deletes a reliable cut's files once unreferenced

        def cut(df, eager=False):
            held.append(cut_lineage(df, eager))
            return held[-1]

        monkeypatch.setattr(io, "cut_lineage", cut)
        wh, path = self._seed(spark, tmp_path)
        ckpt = reliable_cuts()
        keys = spark.createDataFrame([(2,)], "id long")
        _, n = delete_from_warehouse_table(
            spark, wh, "t", keys, ["id"], partition_by=["day"]
        )
        assert n == 2
        assert _rows(path) == {(1, 10.0, "d1"), (3, 30.0, "d2")}
        assert not os.path.isdir(os.path.join(path, "day=d3"))
        assert list(ckpt.glob("*/rdd-*"))

    def test_fully_emptied_partition_directory_is_removed(
        self, spark, tmp_path
    ):
        wh, path = self._seed(spark, tmp_path)
        # d3's only row is key 2 -> partition must disappear, not linger
        keys = spark.createDataFrame([(2,)], "id long")
        delete_from_warehouse_table(
            spark, wh, "t", keys, ["id"], partition_by=["day"]
        )
        assert not os.path.isdir(os.path.join(path, "day=d3"))
        assert {r["day"] for r in spark.read.parquet(path).collect()} == {
            "d1",
            "d2",
        }

    def test_idempotent_rerun_deletes_nothing(self, spark, tmp_path):
        wh, path = self._seed(spark, tmp_path)
        keys = spark.createDataFrame([(2,)], "id long")
        delete_from_warehouse_table(
            spark, wh, "t", keys, ["id"], partition_by=["day"]
        )
        _, n2 = delete_from_warehouse_table(
            spark, wh, "t", keys, ["id"], partition_by=["day"]
        )
        assert n2 == 0
        assert _rows(path) == {(1, 10.0, "d1"), (3, 30.0, "d2")}

    def test_absent_keys_touch_nothing(self, spark, tmp_path):
        wh, path = self._seed(spark, tmp_path)
        all_before = {
            d: _mtimes(os.path.join(path, d))
            for d in os.listdir(path)
            if d.startswith("day=")
        }
        keys = spark.createDataFrame([(99,)], "id long")
        _, n = delete_from_warehouse_table(
            spark, wh, "t", keys, ["id"], partition_by=["day"]
        )
        assert n == 0
        all_after = {
            d: _mtimes(os.path.join(path, d))
            for d in os.listdir(path)
            if d.startswith("day=")
        }
        assert all_after == all_before

    def test_unpartitioned_full_rewrite(self, spark, tmp_path):
        wh = str(tmp_path / "wh")
        seed = spark.createDataFrame(
            [(1, 10.0, "d1"), (2, 20.0, "d1")], "id long, v double, day string"
        )
        write_warehouse_table(seed, wh, "t")
        keys = spark.createDataFrame([(1,)], "id long")
        path, n = delete_from_warehouse_table(spark, wh, "t", keys, ["id"])
        assert n == 1
        assert {tuple(r) for r in spark.read.parquet(path).collect()} == {
            (2, 20.0, "d1")
        }

    def test_composite_key_delete(self, spark, tmp_path):
        wh = str(tmp_path / "wh")
        seed = spark.createDataFrame(
            [(1, "a", 1.0, "d1"), (1, "b", 2.0, "d1"), (2, "a", 3.0, "d1")],
            "id long, sub string, v double, day string",
        )
        path = write_warehouse_table(seed, wh, "t", partition_by=["day"])
        keys = spark.createDataFrame([(1, "a")], "id long, sub string")
        _, n = delete_from_warehouse_table(
            spark, wh, "t", keys, ["id", "sub"], partition_by=["day"]
        )
        assert n == 1
        got = {
            (r["id"], r["sub"]) for r in spark.read.parquet(path).collect()
        }
        assert got == {(1, "b"), (2, "a")}

    def test_null_partition_rows_are_deleted(self, spark, tmp_path):
        # ADVICE r6: a NULL partition value made the touched-partition
        # filter evaluate to NULL, silently excluding those rows from the
        # rewrite — the "deleted" rows survived.
        wh = str(tmp_path / "wh")
        seed = spark.createDataFrame(
            [(1, 10.0, "d1"), (2, 20.0, None), (3, 30.0, None)],
            "id long, v double, day string",
        )
        path = write_warehouse_table(seed, wh, "t", partition_by=["day"])
        keys = spark.createDataFrame([(2,)], "id long")
        _, n = delete_from_warehouse_table(
            spark, wh, "t", keys, ["id"], partition_by=["day"]
        )
        assert n == 1
        got = {
            (r["id"], r["day"]) for r in spark.read.parquet(path).collect()
        }
        assert got == {(1, "d1"), (3, None)}

    def test_fully_emptied_null_partition_directory_is_removed(
        self, spark, tmp_path
    ):
        wh = str(tmp_path / "wh")
        seed = spark.createDataFrame(
            [(1, 10.0, "d1"), (2, 20.0, None)],
            "id long, v double, day string",
        )
        path = write_warehouse_table(seed, wh, "t", partition_by=["day"])
        null_dir = os.path.join(path, "day=__HIVE_DEFAULT_PARTITION__")
        assert os.path.isdir(null_dir)  # fixture sanity
        keys = spark.createDataFrame([(2,)], "id long")
        delete_from_warehouse_table(
            spark, wh, "t", keys, ["id"], partition_by=["day"]
        )
        assert not os.path.isdir(null_dir)
        assert {r["id"] for r in spark.read.parquet(path).collect()} == {1}

    def test_fully_emptied_escaped_partition_directory_is_removed(
        self, spark, tmp_path
    ):
        # Spark path-escapes ':' to '%3A' in partition directory names; a
        # naive f"{col}={value}" join never matches, so the emptied
        # directory (and its parquet bytes) lingered after "deletion".
        wh = str(tmp_path / "wh")
        seed = spark.createDataFrame(
            [(1, 10.0, "t=08:30"), (2, 20.0, "d1")],
            "id long, v double, day string",
        )
        path = write_warehouse_table(seed, wh, "t", partition_by=["day"])
        escaped = [
            d for d in os.listdir(path) if d.startswith("day=") and "%" in d
        ]
        assert escaped, "fixture must produce an escaped directory name"
        keys = spark.createDataFrame([(1,)], "id long")
        _, n = delete_from_warehouse_table(
            spark, wh, "t", keys, ["id"], partition_by=["day"]
        )
        assert n == 1
        assert not any(
            d.startswith("day=") and "%" in d for d in os.listdir(path)
        )
        assert {r["id"] for r in spark.read.parquet(path).collect()} == {2}
