"""Snapshot-versioned warehouse tables — Iceberg-lite time travel.

Plain-parquet warehouses overwrite in place, so a reader racing a writer
sees partial state and yesterday's numbers are gone after today's load.
The fix every table format converges on: immutable data versions plus an
atomically-swapped pointer. Here that is the smallest faithful shape:

    <warehouse>/<table>/data/v<N>/part-*.parquet   (immutable)
    <warehouse>/<table>/_snapshots/v<N>.json       (manifest)

A snapshot becomes visible exactly when its manifest lands (``os.replace``
— atomic on POSIX), readers pin a version by reading one small JSON, and
old versions stay readable until explicitly expired. At 100 TB the same
layout works on object storage (conditional PUT for the manifest); the
data-file write path is a normal distributed Spark write either way.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession

from .io import read_parquet


def _snap_dir(warehouse_dir: str, table: str) -> str:
    return os.path.join(warehouse_dir, table, "_snapshots")


def snapshot_versions(warehouse_dir: str, table: str) -> list[int]:
    """Committed versions, ascending (a data dir without a manifest is an
    uncommitted write and is invisible)."""
    d = _snap_dir(warehouse_dir, table)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(f[1:-5])
        for f in os.listdir(d)
        if f.startswith("v") and f.endswith(".json")
    )


def write_table_snapshot(
    df: DataFrame,
    warehouse_dir: str,
    table: str,
    compression: str = "zstd",
) -> int:
    """Write the next immutable snapshot version; returns its id.

    The distributed parquet write lands in a fresh versioned directory
    first; the manifest is written via tmp + atomic rename LAST, so a
    crashed writer leaves no visible (or readable) half-version.
    """
    versions = snapshot_versions(warehouse_dir, table)
    version = (versions[-1] + 1) if versions else 1
    data_dir = os.path.join(warehouse_dir, table, "data", f"v{version}")
    df.write.mode("errorifexists").option("compression", compression).parquet(
        data_dir
    )
    manifest = {
        "version": version,
        "data_dir": data_dir,
        "committed_at_unix": time.time(),
    }
    snap_dir = _snap_dir(warehouse_dir, table)
    os.makedirs(snap_dir, exist_ok=True)
    tmp = os.path.join(snap_dir, f".v{version}.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, os.path.join(snap_dir, f"v{version}.json"))
    return version


def read_table_snapshot(
    spark: SparkSession,
    warehouse_dir: str,
    table: str,
    version: int | None = None,
) -> DataFrame:
    """Read a pinned snapshot (default: latest committed)."""
    versions = snapshot_versions(warehouse_dir, table)
    if not versions:
        raise FileNotFoundError(f"no snapshots for table {table!r}")
    if version is None:
        version = versions[-1]
    if version not in versions:
        raise FileNotFoundError(
            f"table {table!r} has no snapshot v{version} (have {versions})"
        )
    with open(os.path.join(_snap_dir(warehouse_dir, table), f"v{version}.json")) as fh:
        manifest = json.load(fh)
    return read_parquet(spark, manifest["data_dir"])


def _live_data_dirs(warehouse_dir: str) -> set[str]:
    """Every data_dir referenced by any committed manifest in the
    warehouse — across ALL chains (tables, ``@branch`` chains,
    ``__staging`` chains). Manifests are tiny JSON, so this scan is
    cheap even for warehouses with thousands of versions."""
    refs: set[str] = set()
    if not os.path.isdir(warehouse_dir):
        return refs
    for entry in os.listdir(warehouse_dir):
        snap_dir = os.path.join(warehouse_dir, entry, "_snapshots")
        if not os.path.isdir(snap_dir):
            continue
        for f in os.listdir(snap_dir):
            if f.startswith("v") and f.endswith(".json"):
                with open(os.path.join(snap_dir, f)) as fh:
                    refs.add(os.path.abspath(json.load(fh)["data_dir"]))
    return refs


def expire_snapshots(
    warehouse_dir: str, table: str, keep_latest: int = 2
) -> list[int]:
    """Vacuum: drop all but the newest ``keep_latest`` versions (manifest
    first, then data, so a concurrent reader never resolves a manifest to
    deleted files). Returns the expired version ids.

    Data-file deletion is reference-counted across the WHOLE warehouse:
    branch/WAP/fast-forward manifests legitimately point into another
    chain's data directory (manifest-only publishes copy no data), so a
    data dir is removed only when (a) it is OWNED by the chain being
    expired (lives under ``<warehouse>/<table>/data/``) and (b) after the
    expired manifests are gone, NO live manifest in any chain still
    references it. Unowned or still-referenced dirs lose only their
    manifest — the owning/consuming chain's own expiry reclaims the
    bytes once the last reference drops.
    """
    versions = snapshot_versions(warehouse_dir, table)
    expired = versions[:-keep_latest] if keep_latest > 0 else versions
    owned_root = os.path.abspath(os.path.join(warehouse_dir, table, "data"))
    candidates: list[str] = []
    for v in expired:
        manifest_path = os.path.join(_snap_dir(warehouse_dir, table), f"v{v}.json")
        with open(manifest_path) as fh:
            data_dir = os.path.abspath(json.load(fh)["data_dir"])
        os.remove(manifest_path)
        if os.path.commonpath([data_dir, owned_root]) == owned_root:
            candidates.append(data_dir)
    if candidates:
        still_live = _live_data_dirs(warehouse_dir)
        for data_dir in candidates:
            if data_dir not in still_live:
                shutil.rmtree(data_dir, ignore_errors=True)
    return expired


def compact_snapshot(
    spark: SparkSession,
    warehouse_dir: str,
    table: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Maintenance under versioning: rewrite the latest snapshot's small
    files into a NEW snapshot version sized toward ``target_file_bytes``.

    Unlike in-place compaction (``io.compact_table``), nothing is ever
    rewritten under a live reader: the compacted data lands as the next
    immutable version and becomes visible atomically with its manifest —
    Iceberg's rewrite_data_files shape. Old versions remain readable
    until ``expire_snapshots``. Returns the new version id.
    """
    import math

    df = read_table_snapshot(spark, warehouse_dir, table)
    versions = snapshot_versions(warehouse_dir, table)
    # Resolve the data dir from the manifest: WAP/fast-forward versions
    # point into another chain, so reconstructing <table>/data/v{N} would
    # walk an empty path and ignore target_file_bytes.
    with open(
        os.path.join(_snap_dir(warehouse_dir, table), f"v{versions[-1]}.json")
    ) as fh:
        cur_dir = json.load(fh)["data_dir"]
    total = 0
    for root, _dirs, files in os.walk(cur_dir):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    n_files = max(1, math.ceil(total / target_file_bytes))
    return write_table_snapshot(df.repartition(n_files), warehouse_dir, table)


def snapshot_diff(
    spark: SparkSession,
    warehouse_dir: str,
    table: str,
    v_old: int,
    v_new: int,
    key_cols: list[str],
    include_values: bool = False,
) -> DataFrame:
    """Change feed between two snapshot versions → keys + change_type.

    The CDC read for consumers that want deltas, not full rescans: a
    FULL OUTER join of the two pinned versions on the natural key
    classifies every key as ``insert`` (new only), ``delete`` (old
    only), or ``update`` (present in both with any non-key column
    changed; unchanged rows are omitted). Change detection hashes the
    full row JVM-side, so wide tables don't shuttle column lists
    around. One shuffle on the key (or zero if both versions were
    written bucketed on it).

    The hash input must discriminate NULLs: Spark's hash functions SKIP
    null arguments (the seed passes through unchanged), so hashing bare
    columns would miss an update that moves a value between two
    same-typed columns, e.g. (name=NULL, alias='x') → (name='x',
    alias=NULL). Hashing ``to_json(struct(...))`` keeps every column
    position and null marker in the encoding.
    """
    from pyspark.sql import functions as F

    old = read_table_snapshot(spark, warehouse_dir, table, v_old)
    new = read_table_snapshot(spark, warehouse_dir, table, v_new)
    val_cols = [c for c in new.columns if c not in key_cols]

    def _row_hash(cols):
        return F.xxhash64(F.to_json(F.struct(*[F.col(c) for c in cols])))

    o = old.select(*key_cols, _row_hash(val_cols).alias("_oh"))
    n = new.select(
        *key_cols,
        _row_hash(val_cols).alias("_nh"),
        *([F.struct(*val_cols).alias("_nv")] if include_values else []),
    )
    j = o.join(n, key_cols, "full_outer")
    change = (
        F.when(F.col("_oh").isNull(), F.lit("insert"))
        .when(F.col("_nh").isNull(), F.lit("delete"))
        .when(F.col("_oh") != F.col("_nh"), F.lit("update"))
    )
    out = j.withColumn("change_type", change).filter(
        F.col("change_type").isNotNull()
    )
    if include_values:
        # new-side values ride along (NULL struct for deletes) so the feed
        # is APPLYABLE, not just a key list
        return out.select(
            *key_cols,
            "change_type",
            *[F.col("_nv")[c].alias(c) for c in val_cols],
        )
    return out.select(*key_cols, "change_type")


def apply_change_feed(
    base: DataFrame, feed: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Apply a value-carrying change feed (``snapshot_diff`` with
    ``include_values=True``) onto a base version → the new version's
    content. Deletes and updates remove the key from the base (one
    LEFT ANTI shuffle on the key), inserts and updates append their new
    rows — cost ∝ |base| + |feed|, one key-partitioned join, never a
    rescan of other versions. Round-trip contract (pytest + the
    S15_cdc_apply_roundtrip oracle): apply(v_old, diff(v_old, v_new))
    equals v_new exactly.
    """
    from pyspark.sql import functions as F

    upserts = feed.filter(F.col("change_type") != "delete").drop("change_type")
    survivors = base.join(
        feed.select(*key_cols).distinct(), key_cols, "left_anti"
    )
    return survivors.unionByName(upserts)


def write_audit_publish(
    spark: SparkSession,
    df: DataFrame,
    warehouse_dir: str,
    table: str,
    audits: list[tuple[str, "Column"]],
) -> tuple[int | None, list[tuple[str, int]]]:
    """Write-Audit-Publish (the Iceberg/Netflix WAP governance pattern)
    on the snapshot store: the batch lands in a STAGING snapshot chain
    (``{table}__staging``), the audit gates run against the staged files
    (never the live table), and only an all-green batch is PUBLISHED —
    by writing a manifest into the live table that points at the staged
    data directory. Publication is manifest-only: zero data rewrite, one
    atomic rename, and a failed audit leaves the live table bit-for-bit
    untouched with the quarantined batch still on disk for debugging.

    ``audits``: (name, violation_predicate) pairs — a row matching the
    predicate is a violation; any violation count > 0 aborts the publish.
    Returns (published_version | None, [(audit_name, n_violations)]).

    Ownership note: after publish the staged data dir is referenced by
    the live table's manifest. ``expire_snapshots`` reference-counts data
    dirs across every chain in the warehouse, so expiring either chain
    is safe — the staged bytes survive until the LAST manifest pointing
    at them (staging or published) is gone.
    """
    from pyspark.sql import functions as F

    staging = f"{table}__staging"
    staged_v = write_table_snapshot(df, warehouse_dir, staging)
    staged = read_table_snapshot(spark, warehouse_dir, staging, staged_v)
    counts = staged.agg(
        *[
            F.sum(F.when(pred, 1).otherwise(0)).cast("long").alias(name)
            for name, pred in audits
        ]
    ).collect()[0]  # bounded: one row of audit counters
    report = [(name, int(counts[name] or 0)) for name, _ in audits]
    if any(v > 0 for _, v in report):
        return None, report
    with open(
        os.path.join(_snap_dir(warehouse_dir, staging), f"v{staged_v}.json")
    ) as fh:
        data_dir = json.load(fh)["data_dir"]
    versions = snapshot_versions(warehouse_dir, table)
    version = (versions[-1] + 1) if versions else 1
    snap_dir = _snap_dir(warehouse_dir, table)
    os.makedirs(snap_dir, exist_ok=True)
    tmp = os.path.join(snap_dir, f".v{version}.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(
            {
                "version": version,
                "data_dir": data_dir,
                "committed_at_unix": time.time(),
                "published_from": {"table": staging, "version": staged_v},
            },
            fh,
        )
    os.replace(tmp, os.path.join(snap_dir, f"v{version}.json"))
    return version, report


def create_branch(
    warehouse_dir: str,
    table: str,
    branch: str,
    version: int | None = None,
    overwrite: bool = False,
) -> int:
    """Branch the table at ``version`` (default: latest) — Iceberg-style
    branch semantics on the snapshot store. A branch is its own manifest
    chain (``{table}@{branch}``) whose v1 POINTS at the parent's data
    directory: zero data copy, and commits to the branch never touch the
    parent chain. Returns the branch's first version id (always 1).

    Re-branching an existing branch would rewrite its v1 to a new parent
    while leaving v2+ intact — silently corrupting the branch's history —
    so an existing chain raises unless ``overwrite=True``, which drops
    the ENTIRE old chain's manifests first (data dirs owned by the old
    branch chain are reclaimed via ``expire_snapshots`` reference
    counting, never blindly here).
    """
    versions = snapshot_versions(warehouse_dir, table)
    if not versions:
        raise FileNotFoundError(f"no snapshots for table {table!r}")
    existing = snapshot_versions(warehouse_dir, f"{table}@{branch}")
    if existing:
        if not overwrite:
            raise FileExistsError(
                f"branch {branch!r} of {table!r} already exists "
                f"(versions {existing}); pass overwrite=True to replace it"
            )
        expire_snapshots(warehouse_dir, f"{table}@{branch}", keep_latest=0)
    if version is None:
        version = versions[-1]
    with open(
        os.path.join(_snap_dir(warehouse_dir, table), f"v{version}.json")
    ) as fh:
        data_dir = json.load(fh)["data_dir"]
    btable = f"{table}@{branch}"
    snap_dir = _snap_dir(warehouse_dir, btable)
    os.makedirs(snap_dir, exist_ok=True)
    tmp = os.path.join(snap_dir, ".v1.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(
            {
                "version": 1,
                "data_dir": data_dir,
                "committed_at_unix": time.time(),
                "branched_from": {"table": table, "version": version},
            },
            fh,
        )
    os.replace(tmp, os.path.join(snap_dir, "v1.json"))
    return 1


def fast_forward(warehouse_dir: str, table: str, branch: str) -> int:
    """Fast-forward ``table`` to the head of ``branch`` — a manifest-only
    publish of the branch head into the main chain (the merge half of
    branch-based WAP/experimentation workflows). Returns the new main
    version id."""
    btable = f"{table}@{branch}"
    bversions = snapshot_versions(warehouse_dir, btable)
    if not bversions:
        raise FileNotFoundError(f"branch {branch!r} of {table!r} not found")
    with open(
        os.path.join(_snap_dir(warehouse_dir, btable), f"v{bversions[-1]}.json")
    ) as fh:
        data_dir = json.load(fh)["data_dir"]
    versions = snapshot_versions(warehouse_dir, table)
    version = (versions[-1] + 1) if versions else 1
    snap_dir = _snap_dir(warehouse_dir, table)
    os.makedirs(snap_dir, exist_ok=True)
    tmp = os.path.join(snap_dir, f".v{version}.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(
            {
                "version": version,
                "data_dir": data_dir,
                "committed_at_unix": time.time(),
                "fast_forwarded_from": {"branch": branch, "version": bversions[-1]},
            },
            fh,
        )
    os.replace(tmp, os.path.join(snap_dir, f"v{version}.json"))
    return version
