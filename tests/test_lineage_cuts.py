"""The one lineage-cut primitive (session.cut_lineage) and its policy."""

from __future__ import annotations

import ast
import gc
import pathlib
import time

import hg_data_pipelines_spark
from hg_data_pipelines_spark.session import cut_lineage

PACKAGE = pathlib.Path(hg_data_pipelines_spark.__file__).parent


def _checkpoint_calls():
    """(inside, outside): the ``.localCheckpoint(``/``.checkpoint(`` calls
    in the package inside ``session.cut_lineage`` (by method name) and
    elsewhere (by file:line). Streaming ``checkpointLocation`` options are
    strings, not calls."""
    inside, outside = [], []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        allowed = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name == "cut_lineage":
                allowed |= {id(n) for n in ast.walk(node)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("localCheckpoint", "checkpoint")
            ):
                if id(node) in allowed:
                    inside.append(node.func.attr)
                else:
                    rel = path.relative_to(PACKAGE.parent)
                    outside.append(f"{rel}:{node.lineno}: {ast.unparse(node)[:80]}")
    return sorted(inside), outside


def test_every_cut_goes_through_cut_lineage():
    inside, outside = _checkpoint_calls()
    assert outside == []
    # the walker sees cut_lineage's own two calls, or it checks nothing
    assert inside == ["checkpoint", "localCheckpoint"]


def test_session_checkpoint_dir_chooses_storage(spark, reliable_cuts):
    # no directory leaks in from an earlier test's reliable mode
    assert spark.sparkContext.getCheckpointDir() is None
    df = spark.range(50).selectExpr("id", "id * id AS sq")
    local = cut_lineage(df)
    ckpt = reliable_cuts()
    reliable = cut_lineage(df)
    # a reliable cut is written before any action, even when lazy was asked
    assert list(ckpt.glob("*/rdd-*"))
    assert sorted(local.collect()) == sorted(reliable.collect())


def test_unreferenced_reliable_cuts_are_deleted(spark, reliable_cuts):
    # get_spark sets spark.cleaner.referenceTracking.cleanCheckpoints:
    # once the driver drops its last reference to a reliable cut and the
    # JVM collects it, Spark deletes the cut's files.
    ckpt = reliable_cuts()
    cuts = [cut_lineage(spark.range(20).selectExpr(f"id * {i} AS v")) for i in range(5)]
    assert len(list(ckpt.glob("*/rdd-*"))) == 5
    del cuts
    gc.collect()  # releases the py4j handles on the JVM Datasets
    deadline = time.monotonic() + 30
    while list(ckpt.glob("*/rdd-*")) and time.monotonic() < deadline:
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.2)
    assert list(ckpt.glob("*/rdd-*")) == []
