"""The package's one batch Parquet reader (``io.read_parquet``): a cached
schema equal to what inference returns, no Spark job on a warm open, and
an AST fence that every batch Parquet read goes through it."""

from __future__ import annotations

import ast
import contextlib
import itertools
import os
import pathlib
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import hg_data_pipelines_spark
from hg_data_pipelines_spark import io, schemas
from hg_data_pipelines_spark.jobs import run_pipeline

from conftest import SF_SMOKE as SF

PACKAGE = pathlib.Path(hg_data_pipelines_spark.__file__).parent
NANOS = "spark.sql.legacy.parquet.nanosAsLong"
_groups = itertools.count()


@contextlib.contextmanager
def _conf(spark, key, value):
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def _in_group(sc, group, fn):
    sc.setJobGroup(group, group)
    try:
        return fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _jobs(spark, fn):
    """``(fn(), number of Spark jobs fn ran)``."""
    sc = spark.sparkContext
    group = f"reader-{next(_groups)}"
    out = _in_group(sc, group, fn)
    # The status store is filled asynchronously but in job order: once a
    # later marker job is visible, every job of ``group`` is too.
    _in_group(sc, group + "-marker", lambda: sc.parallelize([0], 1).count())
    deadline = time.monotonic() + 30
    tracker = sc.statusTracker()
    while not tracker.getJobIdsForGroup(group + "-marker"):
        assert time.monotonic() < deadline, "marker job never reached the status store"
        time.sleep(0.05)
    return out, len(tracker.getJobIdsForGroup(group))


def _write(path, **columns):
    pq.write_table(pa.table(columns), path)
    return str(path)


@pytest.mark.parametrize("name", sorted(schemas.TESTDATA_TABLES))
def test_testdata_schema_is_inferred_schema_and_warm_open_runs_no_job(spark, name):
    path = os.path.join(SF, f"{name}.parquet")
    with _conf(spark, NANOS, "true" if name == "events" else "false"):
        inferred = spark.read.parquet(path).schema
        io.read_parquet(spark, path)
        df, jobs = _jobs(spark, lambda: io.read_parquet(spark, path))
        assert df.schema == inferred
        assert jobs == 0
        # load_table's _check_schema runs on the cached schema
        _, jobs = _jobs(spark, lambda: io.load_table(spark, SF, name).schema)
        assert jobs == 0


def test_landed_partitioned_stage_is_inferred_schema(spark, tmp_path):
    ctx = run_pipeline(spark, "events_warehouse", str(tmp_path / "wh"), {"sf_dir": SF})
    path = ctx.reports["events_fact"]["path"]
    assert ctx.tables["events_fact"].schema == spark.read.parquet(path).schema
    assert ctx.tables["events_fact"].columns[-1] == "event_date"


def test_overwritten_path_infers_again(spark, tmp_path):
    wh = str(tmp_path)
    io.write_warehouse_table(spark.createDataFrame([(1,), (2,)], "id long"), wh, "t")
    path = os.path.join(wh, "t")
    assert io.read_parquet(spark, path).columns == ["id"]
    _, jobs = _jobs(spark, lambda: io.read_parquet(spark, path))
    assert jobs == 0
    io.write_warehouse_table(
        spark.createDataFrame([("a", 0.5)], "name string, score double"), wh, "t"
    )
    df, jobs = _jobs(spark, lambda: io.read_parquet(spark, path))
    assert jobs >= 1
    assert df.schema == spark.read.parquet(path).schema
    assert [tuple(r) for r in df.collect()] == [("a", 0.5)]


def test_nanos_as_long_settings_get_separate_entries(spark, tmp_path):
    micros = os.path.join(SF, "events.parquet")
    nanos = _write(
        tmp_path / "nanos.parquet",
        ts=pa.array([1_700_000_000_123_456_789], pa.timestamp("ns")),
    )
    # files written as TIMESTAMP(NANOS) read as int64 only with the setting
    with _conf(spark, NANOS, "true"):
        assert io.read_parquet(spark, nanos).schema["ts"].dataType.typeName() == "long"
        io.read_parquet(spark, micros)
    with _conf(spark, NANOS, "false"):
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            io.read_parquet(spark, nanos)
        io.read_parquet(spark, micros)
    nanos_setting = io._INFERENCE_CONFS.index(NANOS)
    entries = [k for k in io._schema_cache if k[0] == (micros,) and k[1] is None]
    assert sorted(k[2][nanos_setting] for k in entries) == ["false", "true"]


def test_cache_stays_at_its_bound(spark, tmp_path):
    bound = io._SCHEMA_CACHE_ENTRIES
    paths = [_write(tmp_path / f"t{i}.parquet", **{f"c{i}": [i]}) for i in range(bound + 8)]
    for i, p in enumerate(paths):
        assert io.read_parquet(spark, p).columns == [f"c{i}"]
    assert len(io._schema_cache) == bound
    # least recently used first out: the newest ``bound`` paths remain
    assert [k[0] for k in io._schema_cache] == [(p,) for p in paths[8:]]


# ---------------------------------------------------------------------------
# The fence: every batch Parquet read in the package is io.read_parquet's
# ---------------------------------------------------------------------------


def _assignments(tree):
    """name -> the expressions assigned to it anywhere in the module."""
    out: dict[str, list[ast.expr]] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign):
            for t in node.targets:
                if isinstance(t, ast.Name):
                    out.setdefault(t.id, []).append(node.value)
    return out


def _receiver(node, assigned, seen=frozenset()):
    """(name, first constant argument) of every attribute and method call
    along ``node``'s chain, following bare names through their
    assignments."""
    out = []
    while True:
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            arg = node.args[0] if node.args else None
            out.append((node.func.attr, arg.value if isinstance(arg, ast.Constant) else None))
            node = node.func.value
        elif isinstance(node, ast.Attribute):
            out.append((node.attr, None))
            node = node.value
        else:
            break
    if isinstance(node, ast.Name) and node.id in assigned and node.id not in seen:
        for value in assigned[node.id]:
            out += _receiver(value, assigned, seen | {node.id})
    return out


def _parquet_calls():
    """{kind: ["file:line: call"]} for the package's ``.parquet(`` calls and
    ``load``s of the parquet format; kind is ``write``, ``stream``,
    ``stream without schema``, ``read`` (batch, inside
    ``io.read_parquet``), ``stray read`` or ``unknown``."""
    found: dict[str, list[str]] = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        assigned = _assignments(tree)
        reader = set()
        if path.name == "io.py" and path.parent == PACKAGE:
            for node in ast.walk(tree):
                if isinstance(node, ast.FunctionDef) and node.name == "read_parquet":
                    reader |= {id(n) for n in ast.walk(node)}
        for node in ast.walk(tree):
            if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                continue
            chain = _receiver(node.func.value, assigned)
            names = {name for name, _ in chain}
            formats = {arg for name, arg in chain if name == "format"}
            if node.func.attr == "load":
                if not ({"read", "readStream"} & names) or formats - {"parquet"}:
                    continue
            elif node.func.attr != "parquet":
                continue
            if {"write", "writeStream"} & names:
                kind = "write"
            elif "readStream" in names:
                kind = "stream" if "schema" in names else "stream without schema"
            elif "read" in names:
                kind = "read" if id(node) in reader else "stray read"
            else:
                kind = "unknown"
            rel = path.relative_to(PACKAGE.parent)
            found.setdefault(kind, []).append(f"{rel}:{node.lineno}: {ast.unparse(node)[:80]}")
    return found


def test_every_batch_parquet_read_goes_through_read_parquet():
    found = _parquet_calls()
    assert found.get("stray read", []) == []
    assert found.get("unknown", []) == []
    assert found.get("stream without schema", []) == []
    # the walker sees the reader's own two reads (a hit, a miss), or it
    # checks nothing; and it sees the streams and writes it exempts
    assert len(found["read"]) == 2
    assert found["stream"] and found["write"]
