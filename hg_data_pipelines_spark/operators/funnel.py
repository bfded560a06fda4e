"""Ordered-funnel conversion (SURVEY.md X12).

Classic product-analytics funnel: a user converts through stage i only
with an event of that type at-or-after their stage i-1 conversion time.

Round-10 shape: ONE key shuffle for the whole funnel. Events of the
funnel's types are collected per key, sorted by (ts, stage_idx), and a
JVM-side ``aggregate`` fold walks the sorted list once, filling the
per-stage conversion-time slots in order — slot i fills with the first
event of stage i seen after slot i-1 filled, which is exactly "earliest
stage-i event at-or-after the stage-(i-1) time" (ties at equal ts
resolve by stage index, preserving the >= contract). The round-9 shape
ran one filtered aggregation + one join PER STAGE (the event log crossed
the shuffle once per stage and the per-stage chain re-executed per
consumer: 11 shuffles for a 4-stage funnel); this one shuffles the log
exactly once, and every stage table is a filter over the shared fold.
All timestamps are exact micros; no float anywhere, so results are
engine/partitioning independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..session import cut_lineage


def funnel_user_times(
    events: DataFrame,
    stages: list[str],
    user_col: str | list[str] = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """One row per key: ``(*keys, ts_arr)`` where ``element_at(ts_arr, i)``
    is the stage-i conversion time (NULL where the funnel stalled).
    Lazily checkpointed — every stage table and count derives from this
    single fold without re-executing it per consumer."""
    keys = [user_col] if isinstance(user_col, str) else list(user_col)
    if len(set(stages)) != len(stages):
        # The nested-when stage index maps each event TYPE to one slot, so
        # a repeated stage type could never fill its second slot — the
        # funnel would silently stall instead of converting. Refuse loudly.
        raise ValueError(
            f"funnel stages must be distinct event types, got {stages!r} "
            "(a repeated type can never fill its later slot)"
        )
    k = len(stages)
    tstype = events.schema[ts_col].dataType.simpleString()
    idx = F.lit(None).cast("int")
    for i, s in enumerate(reversed(stages)):
        idx = F.when(F.col(type_col) == s, F.lit(k - 1 - i)).otherwise(idx)
    ev = (
        events.filter(F.col(type_col).isin(stages))
        .filter(F.col(ts_col).isNotNull())
        .select(*keys, F.struct(F.col(ts_col).alias("t"), idx.alias("idx")).alias("e"))
    )
    per_key = ev.groupBy(*keys).agg(
        F.array_sort(F.collect_list("e")).alias("evs")
    )
    fold = (
        f"aggregate(evs,"
        f" transform(sequence(1, {k}), x -> CAST(NULL AS {tstype})),"
        " (acc, e) -> transform(acc, (a, j) ->"
        "   CASE WHEN j = e.idx AND a IS NULL"
        "         AND (j = 0 OR element_at(acc, j) IS NOT NULL)"
        "        THEN e.t ELSE a END))"
    )
    return cut_lineage(per_key.select(*keys, F.expr(fold).alias("ts_arr")))


def funnel_stage_times(
    events: DataFrame,
    stages: list[str],
    user_col: str | list[str] = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> list[DataFrame]:
    """Per-stage conversion tables [(*keys, t)] — earliest qualifying event
    per key per stage, each at-or-after the key's previous stage time.
    ``user_col`` may be a composite key list (e.g. ``["user_id",
    "session_id"]`` for within-session funnels). All stages are filters
    over ONE shared fold (``funnel_user_times``)."""
    keys = [user_col] if isinstance(user_col, str) else list(user_col)
    per_key = funnel_user_times(events, stages, user_col, ts_col, type_col)
    return [
        per_key.filter(F.expr(f"element_at(ts_arr, {i + 1}) IS NOT NULL")).select(
            *keys, F.expr(f"element_at(ts_arr, {i + 1})").alias("t")
        )
        for i in range(len(stages))
    ]


def funnel_counts(
    events: DataFrame,
    stages: list[str],
    user_col: str | list[str] = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """(stage, stage_idx, n_users) — keys reaching each funnel prefix.
    One global aggregate over the shared fold emits every stage's count."""
    per_key = funnel_user_times(events, stages, user_col, ts_col, type_col)
    agg = per_key.agg(
        *[
            F.coalesce(
                F.sum(
                    F.expr(f"element_at(ts_arr, {i + 1}) IS NOT NULL").cast(
                        "long"
                    )
                ),
                F.lit(0).cast("long"),
            ).alias(f"_n{i}")
            for i in range(len(stages))
        ]
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(stage).alias("stage"),
                F.lit(i + 1).alias("stage_idx"),
                F.col(f"_n{i}").alias("n_users"),
            )
            for i, stage in enumerate(stages)
        ]
    )
    return agg.select(F.explode(rows).alias("_s")).select("_s.*")
