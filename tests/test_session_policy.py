"""Session settings are fixed at session start (``session.get_spark``):
no query or operator changes session conf, except the streaming
state-partition override, and ``events.ts`` reads the same in either of
its two Parquet encodings without any query setting anything first."""

from __future__ import annotations

import ast
import os
import pathlib
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import hg_data_pipelines_spark
from hg_data_pipelines_spark.io import load_table
from hg_data_pipelines_spark.queries import QUERIES

from conftest import SF_SMOKE as SF

PACKAGE = pathlib.Path(hg_data_pipelines_spark.__file__).parent

# Every declared query that streams the events table from a staged copy.
EVENT_STREAM_QUERIES = (
    "X6_streaming_tumbling",
    "X6_streaming_sliding",
    "X17_streaming_session_window",
    "X6_streaming_ohlc",
    "X10_streaming_static_enrich",
    "S16_streaming_warehouse_landing",
)


def _conf_mutations():
    """(inside, outside): the ``.conf.set(``/``.conf.unset(`` calls in the
    package inside ``streaming_q._stream_state_partitions`` (by method
    name) and elsewhere (by file:line), plus any ``.sql("SET …")``."""
    inside, outside = [], []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        allowed = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.ClassDef) and node.name == "_stream_state_partitions":
                allowed |= {id(n) for n in ast.walk(node)}
        for node in ast.walk(tree):
            if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                continue
            owner = node.func.value
            conf_call = node.func.attr in ("set", "unset") and (
                (isinstance(owner, ast.Attribute) and owner.attr == "conf")
                or (isinstance(owner, ast.Name) and owner.id == "conf")
            )
            sql_set = (
                node.func.attr == "sql"
                and node.args
                and isinstance(node.args[0], ast.Constant)
                and isinstance(node.args[0].value, str)
                and node.args[0].value.strip().upper().startswith(("SET", "RESET"))
            )
            if not (conf_call or sql_set):
                continue
            if id(node) in allowed:
                inside.append(node.func.attr)
            else:
                rel = path.relative_to(PACKAGE.parent)
                outside.append(f"{rel}:{node.lineno}: {ast.unparse(node)[:80]}")
    return inside, outside


def test_no_query_or_operator_sets_session_conf():
    inside, outside = _conf_mutations()
    assert outside == []
    # the walker sees the override's own set and restore, or it checks nothing
    assert inside == ["set", "set"]


def test_session_start_fixes_time_zone_and_nanos_policy(spark):
    fresh = spark.newSession()
    assert fresh.conf.get("spark.sql.session.timeZone") == "UTC"
    assert fresh.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"


@pytest.mark.parametrize("name", EVENT_STREAM_QUERIES)
def test_event_stream_build_keeps_conf_and_reuses_its_directories(
    spark, tmp_path, monkeypatch, name
):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    before = spark.conf.getAll
    QUERIES[name](spark, SF).collect()
    assert spark.conf.getAll == before
    first = sorted(os.listdir(tmp_path))
    assert first, "the build staged nothing under the temp dir"
    QUERIES[name](spark, SF).collect()
    assert spark.conf.getAll == before
    assert sorted(os.listdir(tmp_path)) == first


@pytest.fixture(scope="module")
def events_both_encodings(tmp_path_factory):
    """sf0.001 ``events`` written twice: ``ts`` as TIMESTAMP(NANOS), with
    a sub-microsecond remainder that reading must floor away, and as
    TIMESTAMP(MICROS)."""
    table = pq.read_table(os.path.join(SF, "events.parquet"))
    us = table.column("ts").cast(pa.timestamp("us"))
    micros = us.cast(pa.int64()).to_numpy()
    sub_micro = table.column("event_id").to_numpy() % 1000
    ns = pa.array(micros * 1000 + sub_micro, pa.int64()).cast(pa.timestamp("ns"))
    dirs = {}
    for enc, ts in (("ns", ns), ("us", us)):
        d = tmp_path_factory.mktemp(f"events_{enc}")
        idx = table.schema.get_field_index("ts")
        pq.write_table(table.set_column(idx, pa.field("ts", ts.type), ts), d / "events.parquet")
        dirs[enc] = str(d)
    assert pq.read_schema(os.path.join(dirs["ns"], "events.parquet")).field("ts").type == pa.timestamp("ns")
    return dirs


def _rows(df, *order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


def test_both_ts_encodings_load_identically(spark, events_both_encodings):
    fresh = spark.newSession()
    ns, us = (load_table(fresh, events_both_encodings[e], "events") for e in ("ns", "us"))
    assert ns.schema == us.schema
    assert ns.schema["ts"].dataType.typeName() == "timestamp_ntz"
    got = _rows(ns, "event_id")
    assert got == _rows(us, "event_id")
    assert got == _rows(load_table(fresh, SF, "events"), "event_id")


def test_both_ts_encodings_stream_identically(spark, events_both_encodings, tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    fresh = spark.newSession()
    run = QUERIES["X6_streaming_tumbling"]
    ns, us = (run(fresh, events_both_encodings[e]) for e in ("ns", "us"))
    got = _rows(ns, "window_start", "event_type")
    assert got and got == _rows(us, "window_start", "event_type")
