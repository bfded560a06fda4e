"""Scheduled-job layer: the Dagster asset DAG as ordered Spark job stages.

The reference's orchestration (heritage_guard/__init__.py:7-16 Definitions;
asset deps inferred from parameter names, SURVEY.md §3.1) maps to explicit
pipelines: a named list of stages in topological order, each stage a
function ``(spark, ctx) -> DataFrame`` whose result lands as a Parquet
warehouse table (S9) keyed by the stage name. Downstream stages read
upstream results from ``ctx.tables`` — the materialized-DataFrame handoff
Dagster's IO manager did with pickles, here kept lazy within one run and
durable as Parquet between runs.

Each materialization also records the Dagster-style output metadata
(schema + row count — the ``add_output_metadata`` analogue,
street_level_grouping.py:92-95) into ``ctx.reports``. The row count is an
``Observation`` collected by the write itself, so it costs no extra job.

Scale posture: a stage's ``partition_by`` routes through
``write_warehouse_table`` so facts land partitioned (pruning for every
downstream read); re-runs are idempotent overwrites. Scheduling itself
(cron/airflow) calls ``run_pipeline`` — the engine deliberately owns the
DAG, not the clock.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .io import read_parquet, write_warehouse_table


@dataclass
class RunContext:
    """State threaded through one pipeline run."""

    warehouse_dir: str
    config: dict[str, Any] = field(default_factory=dict)
    tables: dict[str, DataFrame] = field(default_factory=dict)
    reports: dict[str, dict[str, Any]] = field(default_factory=dict)


@dataclass
class Stage:
    name: str
    fn: Callable[[SparkSession, RunContext], DataFrame]
    materialize: bool = True
    partition_by: list[str] | None = None
    # Opt-in (the io.py scan_parallel doctrine, per stage not per table):
    # set when DOWNSTREAM consumers of this landed table are compute-dense
    # (shingling, token explodes, vector kernels). The re-read then gets
    # the size-gated directory repartition — without it a ~100 MB
    # compressed text stage packs into 1-2 splits and the next stage's
    # heavy map side runs near-serial (measured: the composed flagship's
    # bigram gate spent ~10 min in ONE spilling task at the 10× replica).
    parallel_reread: bool = False


class Pipeline:
    """An ordered stage list (the topological order of the asset DAG)."""

    def __init__(self, name: str, stages: list[Stage]):
        self.name = name
        self.stages = stages

    def run(
        self,
        spark: SparkSession,
        warehouse_dir: str,
        config: dict[str, Any] | None = None,
    ) -> RunContext:
        ctx = RunContext(warehouse_dir=warehouse_dir, config=dict(config or {}))
        for stage in self.stages:
            df = stage.fn(spark, ctx)
            ctx.tables[stage.name] = df
            if stage.materialize:
                rows = Observation()
                path = write_warehouse_table(
                    df.observe(rows, F.count(F.lit(1)).alias("rows")),
                    warehouse_dir,
                    stage.name,
                    partition_by=stage.partition_by,
                )
                # Re-read the landed table: downstream stages scan Parquet
                # (pruning/pushdown apply) instead of recomputing the plan.
                # The write fixed its data columns, so nothing is inferred;
                # partition columns come last, from the directory names.
                parts = set(stage.partition_by or ())
                written = T.StructType([f for f in df.schema if f.name not in parts])
                landed = read_parquet(spark, path, schema=written)
                if stage.parallel_reread:
                    from .io import dir_scan_parallelism

                    landed = dir_scan_parallelism(spark, landed, path)
                ctx.tables[stage.name] = landed
                ctx.reports[stage.name] = {
                    "path": path,
                    "schema": landed.schema.simpleString(),
                    "rows": rows.get["rows"],
                }
        return ctx


_PIPELINES: dict[str, Pipeline] = {}


def register_pipeline(p: Pipeline) -> Pipeline:
    _PIPELINES[p.name] = p
    return p


def get_pipeline(name: str) -> Pipeline:
    return _PIPELINES[name]


def run_pipeline(
    spark: SparkSession,
    name: str,
    warehouse_dir: str,
    config: dict[str, Any] | None = None,
) -> RunContext:
    """The engine entry point: ``engine.run(job_name)`` (SURVEY.md §3.1)."""
    return get_pipeline(name).run(spark, warehouse_dir, config)


# ---------------------------------------------------------------------------
# The reference's pipelines, registered (asset chain §3.1-3.3)
# ---------------------------------------------------------------------------


def _results_file_stage(spark: SparkSession, ctx: RunContext) -> DataFrame:
    from .io import read_predictions_json
    from .pipelines.results_builder import build_results

    preds = read_predictions_json(spark, ctx.config["predictions_glob"])
    return build_results(
        preds,
        pano_width=ctx.config.get("pano_width", 8000),
        pano_height=ctx.config.get("pano_height", 4000),
    )


def _detected_objects_stage(spark: SparkSession, ctx: RunContext) -> DataFrame:
    from .pipelines.detected_objects import build_detected_objects

    return build_detected_objects(
        spark,
        ctx.config["results_json_path"],
        with_uuid=ctx.config.get("with_uuid", True),
    )


def _grouped_stage(spark: SparkSession, ctx: RunContext) -> DataFrame:
    from .io import read_results_json
    from .pipelines.street_level import detected_with_idx, grouped_detected_objects

    raw = read_results_json(spark, ctx.config["results_json_path"])
    return grouped_detected_objects(detected_with_idx(raw))


def _best_lines_stage(spark: SparkSession, ctx: RunContext) -> DataFrame:
    from .io import read_pose_csv
    from .pipelines.street_level import best_lines_3d

    pose = read_pose_csv(spark, ctx.config["pose_csv_path"])
    return best_lines_3d(ctx.tables["grouped_detected_objects"], pose)


def _mesh_intersection_stage(spark: SparkSession, ctx: RunContext) -> DataFrame:
    from .pipelines.street_level import point_and_mesh_intersection

    return point_and_mesh_intersection(
        spark, ctx.tables["best_lines_3d"], ctx.config["mesh_triangles"]
    )


def _events_fact_stage(spark: SparkSession, ctx: RunContext) -> DataFrame:
    """Date-partitioned events fact: the S9 partition_by knob exercised by a
    registered pipeline. Downstream reads prune on event_date (PartitionFilters
    in the scan plan — asserted in tests/test_scale.py)."""
    from pyspark.sql import functions as F

    from .io import load_table

    ev = load_table(spark, ctx.config["sf_dir"], "events")
    return ev.withColumn("event_date", F.to_date("ts"))


register_pipeline(
    Pipeline(
        "events_warehouse",
        [Stage("events_fact", _events_fact_stage, partition_by=["event_date"])],
    )
)


# ---------------------------------------------------------------------------
# LLM corpus-curation pipeline: the north-star operators chained as one
# orchestrated job — quality gate → exact dedup → near-dup cluster removal
# → deterministic split → sequence chunks, landing each stage in the
# warehouse. Every transform is the same code the declared queries check.
# ---------------------------------------------------------------------------


def _corpus_quality_stage(spark: SparkSession, ctx: RunContext) -> DataFrame:
    """Keep documents above the composite quality score (X4 gate)."""
    from pyspark.sql import functions as F

    from .io import load_table

    docs = load_table(spark, ctx.config["sf_dir"], "documents", scan_parallel=True)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    distinct_ratio = F.size(F.array_distinct(toks)) / F.size(toks)
    n_tokens = F.size(toks)
    score = (
        0.5 * F.when(n_tokens >= 20, 1.0).otherwise(n_tokens / 20.0)
        + 0.5 * distinct_ratio
    )
    threshold = float(ctx.config.get("quality_threshold", 0.6))
    return docs.withColumn("quality", score).filter(F.col("quality") >= threshold)


def _corpus_repetition_stage(spark: SparkSession, ctx: RunContext) -> DataFrame:
    """Drop documents failing the Gopher-style repetition gate (top-token
    / top-bigram concentration — the X4_repetition_filter metric)."""
    from pyspark.sql import functions as F

    from .queries.text import repetition_metrics

    docs = ctx.tables["corpus_quality"]
    passing = (
        repetition_metrics(docs)
        .filter(F.col("passes_repetition"))
        .select("doc_id")
    )
    return docs.join(passing, "doc_id", "left_semi")


def _corpus_exact_dedup_stage(spark: SparkSession, ctx: RunContext) -> DataFrame:
    """Drop byte-identical duplicates, keeping the lowest doc_id."""
    from .operators.dedup import dedup_exact

    return dedup_exact(
        ctx.tables["corpus_repetition"], keys=["text"], order=["doc_id"]
    )


def _corpus_neardup_stage(spark: SparkSession, ctx: RunContext) -> DataFrame:
    """Remove near-duplicate clusters: connected components over Jaccard
    pairs, keep only each component's minimum doc_id (plus all unpaired
    docs)."""
    from pyspark.sql import functions as F

    from .operators.dedup import (
        connected_components,
        jaccard_prefix_filter_pairs,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    docs = ctx.tables["corpus_exact_dedup"]
    threshold = float(ctx.config.get("jaccard_threshold", 0.5))
    # Three pair generators, one contract (pairs at Jaccard >= threshold):
    # "exact" = full inverted index (oracle-checkable fixture path);
    # "prefix" = prefix-filtered index — still EXACT output, but posting
    # volume drops to ~(1-t) and hot posting lists vanish, the preferred
    # 100 TB path at realistic thresholds (>= 0.5); "minhash" = banded-LSH
    # candidates with exact-Jaccard verification — identical precision,
    # probabilistic recall, for when even the prefix index is too big.
    method = ctx.config.get("neardup_method", "exact")
    if method == "minhash":
        # max_bucket: the occupancy guard the X2 queries always pass —
        # degenerate band buckets (template corpora, replica cliques)
        # expand via capped window slices instead of quadratically
        pairs = minhash_lsh_pairs(
            docs,
            threshold=threshold,
            max_bucket=int(ctx.config.get("max_bucket", 1024)),
        )
    elif method == "prefix":
        pairs = jaccard_prefix_filter_pairs(docs, threshold=threshold)
    else:
        pairs = ngram_jaccard_pairs(docs, threshold=threshold)
    labels = connected_components(pairs)
    losers = labels.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias("doc_id")
    )
    return docs.join(losers, "doc_id", "left_anti")


def _corpus_semantic_dedup_stage(spark: SparkSession, ctx: RunContext) -> DataFrame:
    """SemDeDup-style embedding-space dedup after text-space dedup: cosine
    edges above ``semantic_cos_threshold`` → connected components → keep
    each cluster's minimum doc_id. Documents without an embedding (the
    embeddings table covers a subset) pass through untouched — semantic
    dedup only ever REMOVES covered near-clones, it never gates on
    coverage. Edge generation uses the RHP-LSH pair operator (the scale
    path) unless config['semantic_method'] == 'exact'."""
    from pyspark.sql import functions as F

    from .io import load_table
    from .operators.dedup import connected_components
    from .operators.similarity import embedding_neardup_lsh

    docs = ctx.tables["corpus_neardup"]
    emb = load_table(spark, ctx.config["sf_dir"], "embeddings", scan_parallel=True)
    threshold = float(ctx.config.get("semantic_cos_threshold", 0.45))
    if ctx.config.get("semantic_method", "lsh") == "exact":
        from .operators.guards import fence_rows
        from .operators.similarity import _cosine

        emb = fence_rows(
            emb,
            what="semantic_method='exact'",
            scale_path="semantic_method='lsh' (the default)",
            force=bool(ctx.config.get("force_exact", False)),
        )
        a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
        b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
        pairs = (
            a.crossJoin(b)
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(F.round(_cosine("va", "vb"), 6) >= threshold)
            .select("id_a", "id_b")
        )
    else:
        # The proven ANN-sweep knob set (auto_planes + occupancy cap —
        # validated to 2M vectors on an 8 GiB heap): the r12 composed
        # flagship smoke caught the stale fixed n_planes=4 here — at 20k
        # vectors that is 16 buckets/table (~1250 members each), ~2·10⁸
        # candidate pairs ground through a single spilling task. planes
        # sized to the corpus keep occupancy ~32; max_bucket fences the
        # residual skew via capped window slices. Recall is probabilistic
        # by the stage contract; its floor is declared and hash-checked
        # at fixture scale by X2_neardup_lsh_invariant.
        from .operators.similarity import auto_planes

        pairs = embedding_neardup_lsh(
            emb,
            threshold,
            n_planes=auto_planes(emb.count()),
            n_tables=16,
            max_bucket=int(ctx.config.get("max_bucket", 1024)),
        ).select("id_a", "id_b")
    labels = connected_components(pairs)
    losers = labels.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias("doc_id")
    )
    return docs.join(losers, "doc_id", "left_anti")


def _corpus_span_dedup_stage(spark: SparkSession, ctx: RunContext) -> DataFrame:
    """Cross-corpus SPAN-level dedup (the C4 "remove repeated spans"
    step): fixed-token chunks dedup globally keep-first, each surviving
    document's text is rebuilt from its kept chunks in order
    (X1_chunk_dedup_reassemble's operator shape). Docs whose every chunk
    was already seen elsewhere drop out entirely. ``span_tokens=0``
    disables the stage (pass-through)."""
    from pyspark.sql import Window, functions as F

    docs = ctx.tables["corpus_semantic_dedup"]
    n = int(ctx.config.get("span_tokens", 10))
    if n <= 0:
        return docs
    chunks = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks")
    ).select(
        "doc_id",
        F.expr(
            f"transform(sequence(0, CAST(ceil(size(toks) / {n}.0) AS INT) - 1),"
            f" i -> array_join(slice(toks, i * {n} + 1, {n}), ' '))"
        ).alias("chunks"),
    )
    exploded = chunks.select(
        "doc_id", F.posexplode("chunks").alias("chunk_idx", "chunk")
    )
    w = Window.partitionBy("chunk").orderBy("doc_id", "chunk_idx")
    kept = (
        exploded.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk"))),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("_dedup_text")
    )
    return (
        docs.join(rebuilt, "doc_id")
        .withColumn("text", F.col("_dedup_text"))
        .drop("_dedup_text")
    )


def _corpus_split_stage(spark: SparkSession, ctx: RunContext) -> DataFrame:
    """Deterministic md5-bucket train/val/test assignment."""
    from pyspark.sql import functions as F

    docs = ctx.tables["corpus_span_dedup"]
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    split = F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    return docs.withColumn("split", split)


def _corpus_chunks_stage(spark: SparkSession, ctx: RunContext) -> DataFrame:
    """Fixed-size token chunks with stride overlap, ready for tokenization."""
    from pyspark.sql import functions as F

    chunk = int(ctx.config.get("chunk_tokens", 64))
    stride = int(ctx.config.get("chunk_stride", 48))
    docs = ctx.tables["corpus_split"]
    t = docs.select(
        "doc_id", "split", F.split(F.trim(F.col("text")), r"\s+").alias("toks")
    )
    starts = t.select(
        "doc_id",
        "split",
        "toks",
        F.explode(F.sequence(F.lit(1), F.size("toks"), F.lit(stride))).alias("s"),
    )
    piece = F.slice("toks", F.col("s"), chunk)
    return starts.select(
        "doc_id",
        "split",
        ((F.col("s") - 1) / stride).cast("int").alias("chunk_idx"),
        F.array_join(piece, " ").alias("chunk"),
        F.size(piece).cast("int").alias("n_tokens"),
    )


register_pipeline(
    Pipeline(
        "llm_corpus_curation",
        [
            # parallel_reread: every text-carrying stage table feeds a
            # compute-dense consumer (bigram explode, shingling, span
            # chunking) — see Stage docstring for the measured failure
            Stage("corpus_quality", _corpus_quality_stage, parallel_reread=True),
            Stage(
                "corpus_repetition", _corpus_repetition_stage, parallel_reread=True
            ),
            Stage(
                "corpus_exact_dedup", _corpus_exact_dedup_stage, parallel_reread=True
            ),
            Stage("corpus_neardup", _corpus_neardup_stage, parallel_reread=True),
            Stage(
                "corpus_semantic_dedup",
                _corpus_semantic_dedup_stage,
                parallel_reread=True,
            ),
            Stage(
                "corpus_span_dedup", _corpus_span_dedup_stage, parallel_reread=True
            ),
            Stage("corpus_split", _corpus_split_stage, parallel_reread=True),
            Stage("corpus_chunks", _corpus_chunks_stage, partition_by=["split"]),
        ],
    )
)

register_pipeline(
    Pipeline(
        "results_file",
        [Stage("results_file", _results_file_stage)],
    )
)

register_pipeline(
    Pipeline(
        "detected_objects_processing",
        [Stage("detected_objects", _detected_objects_stage)],
    )
)

register_pipeline(
    Pipeline(
        "street_level_grouping",
        [
            Stage("grouped_detected_objects", _grouped_stage),
            Stage("best_lines_3d", _best_lines_stage),
            Stage("point_and_mesh_intersection", _mesh_intersection_stage),
        ],
    )
)


# ---------------------------------------------------------------------------
# Image-dedup pipeline: multimodal dedup orchestrated end-to-end — binary
# image files → perceptual fingerprints → Hamming-blocked near-dup
# clusters → keep-list of representatives. The 100 TB shape: fingerprints
# are row-local mapInPandas (8 bytes/image out), candidate pairs come
# from 16-bit chunk blocking (never all-pairs), components are the same
# min-label propagation the text path uses.
# ---------------------------------------------------------------------------


def _image_fingerprint_stage(spark: SparkSession, ctx: RunContext) -> DataFrame:
    from .io import read_binary_files
    from .multimodal import image_fingerprints

    imgs = read_binary_files(
        spark, ctx.config["images_dir"], ctx.config.get("pattern", "*")
    )
    return image_fingerprints(imgs)


def _image_keep_list_stage(spark: SparkSession, ctx: RunContext) -> DataFrame:
    from pyspark.sql import functions as F

    from .operators.dedup import connected_components, hamming_near_pairs

    fp = ctx.tables["image_fingerprints"]
    max_hamming = int(ctx.config.get("max_hamming", 8))
    pairs = hamming_near_pairs(fp, "path", "phash", max_hamming=max_hamming)
    labels = connected_components(pairs)
    losers = labels.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias("path")
    )
    return fp.join(losers, "path", "left_anti")


register_pipeline(
    Pipeline(
        "image_dedup",
        [
            Stage("image_fingerprints", _image_fingerprint_stage),
            Stage("image_keep_list", _image_keep_list_stage),
        ],
    )
)
