"""Street-level grouping pipeline: IoU clustering → best rows → 3D rays →
mesh intersection.

Reference chain (street_level_grouping.py):
``detected_objects_street_level`` (:86) → ``grouped_detected_objects`` (:99)
→ [+ ``reference_file`` (:138)] → ``best_lines_3d`` (:174) →
``point_and_mesh_intersection`` (:202).

Spark-first translation:
- per-photo IoU clustering (U4) is ``groupBy('file_name').applyInPandas`` —
  the O(n²) pairwise IoU stays bounded inside one group (n = detections per
  photo, small by construction; SURVEY.md §4.1 "do NOT globalize").
- best-detection-per-cluster (A3/W1) is a window rank, not a pandas idxmax;
  ``obj_idx`` (original row order) is the tiebreak that reproduces pandas'
  first-max semantics.
- the pose lookup loop (J1) is a broadcast equi-join on the file stem.
- pixel→ray math (U1) runs vectorized inside applyInPandas: one
  ``pixels_to_rays`` call per distinct (pose, image size) of a photo.
- ray↔mesh intersection (U6) broadcasts a tile index of the triangle soup
  (``geometry.build_tile_index``) and processes rays partition-parallel via
  mapInPandas — the reference's single ``multi_ray_trace`` call (a BVH)
  becomes one tile-culled Möller–Trumbore pass per distinct ray origin in
  each Arrow batch.

Scale: one shuffle per stage boundary (groupBy file_name); the mesh index is
a broadcast variable (≤ executor memory; partition the mesh spatially beyond
that); joblib's loky pool (reference :191-192) is replaced by Spark tasks.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import geometry as G

IOU_THRESHOLD = 0.01  # reference: street_level_grouping.py:113
POLYGON_SPACING = 10  # reference: StreetLevelConfig.polygon_spacing (:32)

# ---------------------------------------------------------------------------
# Stage 1: per-photo greedy IoU grouping (U4)
# ---------------------------------------------------------------------------

_GROUPED_SCHEMA = T.StructType(
    [
        T.StructField("file_name", T.StringType()),
        T.StructField("obj_idx", T.IntegerType()),
        T.StructField("bbox", T.ArrayType(T.DoubleType())),
        # GeoJSON coordinates as a JSON string: pyarrow segfaults moving an
        # all-null array<array<array<double>>> batch into pandas, so nested
        # polygon data crosses the Arrow boundary serialized (to_json).
        T.StructField("polygon_json", T.StringType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("class", T.IntegerType()),
        T.StructField("class_name", T.StringType()),
        T.StructField("group_idx", T.IntegerType()),
    ]
)


def _group_one_photo(pdf: pd.DataFrame) -> pd.DataFrame:
    # Stable input order = original JSON order (obj_idx), the determinism
    # contract for the greedy algorithm (SURVEY.md §7.2).
    pdf = pdf.sort_values("obj_idx").reset_index(drop=True)
    bboxes = np.array([list(b) for b in pdf["bbox"]], dtype=np.float64)
    normalized = G.normalize_seam_bboxes(bboxes)
    iou = G.bbox_iou_matrix(normalized)
    pdf["group_idx"] = G.group_bboxes_greedy(iou, IOU_THRESHOLD).astype("int32")
    return pdf


def grouped_detected_objects(detected: DataFrame) -> DataFrame:
    """Cluster duplicate detections per photo (reference :99-135).

    ``detected`` needs columns (file_name, obj_idx, bbox, polygon_json,
    score, class, class_name); ``obj_idx`` is the within-photo original row
    number (use ``posexplode`` when building from results.json).
    """
    cols = [f.name for f in _GROUPED_SCHEMA.fields if f.name != "group_idx"]
    return (
        detected.select(*cols)
        .groupBy("file_name")
        .applyInPandas(_group_one_photo, _GROUPED_SCHEMA)
    )


def detected_with_idx(results_df: DataFrame) -> DataFrame:
    """results.json rows → exploded detections with a stable ``obj_idx``."""
    from ..io import class_dim

    exploded = results_df.select(
        "file_name", F.posexplode("objects").alias("obj_idx", "o")
    ).select("file_name", F.col("obj_idx").cast("int"), "o.*")
    dim = class_dim(exploded.sparkSession)
    return exploded.join(F.broadcast(dim), "class", "left").select(
        "file_name",
        "obj_idx",
        "bbox",
        F.to_json(F.col("polygon.coordinates")).alias("polygon_json"),
        "score",
        "class",
        "class_name",
    )


# ---------------------------------------------------------------------------
# Stage 2: best detection per cluster → 3D ray polygon (U5 + J1 + U1)
# ---------------------------------------------------------------------------

_BEST_LINES_SCHEMA = T.StructType(
    [
        T.StructField("file_name", T.StringType()),
        T.StructField("obj_idx", T.IntegerType()),
        T.StructField("bbox", T.ArrayType(T.DoubleType())),
        T.StructField("score", T.DoubleType()),
        T.StructField("class", T.IntegerType()),
        T.StructField("class_name", T.StringType()),
        T.StructField("polygon_3d", T.ArrayType(T.ArrayType(T.DoubleType()))),
        T.StructField("origin", T.ArrayType(T.DoubleType())),
    ]
)


_POSE_COLS = [
    "roll_deg", "pitch_deg", "heading_deg", "proj_x", "proj_y", "proj_z",
    "image_width", "image_height",
]


def _rays_one_photo(pdf: pd.DataFrame) -> pd.DataFrame:
    if pdf.empty:
        return pd.DataFrame({f.name: [] for f in _BEST_LINES_SCHEMA.fields})
    px, py = [], []  # per row: the sampled ring's truncated pixel coords
    for s in pdf["polygon_json"]:
        ring = [list(p) for p in json.loads(s)[0]]
        # shapely's Polygon closes an open ring; exterior.coords includes the
        # closing point (reference :158-166 iterates the closed ring).
        if ring[0] != ring[-1]:
            ring.append(ring[0])
        pts = ring[::POLYGON_SPACING]
        px.append(np.array([int(p[0]) for p in pts], dtype=np.float64))
        py.append(np.array([int(p[1]) for p in pts], dtype=np.float64))
    polygons, origins = [None] * len(pdf), [None] * len(pdf)
    # one ray cast per pose: pixels_to_rays is elementwise, so casting the
    # concatenated polygons equals casting each one
    for rows in pdf.groupby(_POSE_COLS, sort=False, dropna=False).indices.values():
        row = pdf.iloc[rows[0]]
        origin = np.array(
            [row["proj_x"], row["proj_y"], row["proj_z"]], dtype=np.float64
        )
        rays = G.pixels_to_rays(
            np.concatenate([px[i] for i in rows]),
            np.concatenate([py[i] for i in rows]),
            roll_rad=np.deg2rad(-row["roll_deg"]),
            pitch_rad=np.deg2rad(row["pitch_deg"]),
            heading_rad=np.deg2rad(row["heading_deg"] + 90.0),
            origin=origin,
            image_width=int(row["image_width"]),
            image_height=int(row["image_height"]),
        )
        bounds = np.cumsum([len(px[i]) for i in rows])[:-1]
        for i, poly in zip(rows, np.split(rays, bounds)):
            polygons[i] = list(poly)
            origins[i] = list(origin)
    out = pdf[[f.name for f in _BEST_LINES_SCHEMA.fields[:6]]].copy()
    out["polygon_3d"] = polygons
    out["origin"] = origins
    return out


def best_lines_3d(
    grouped: DataFrame,
    pose: DataFrame,
    photo_dims: DataFrame | None = None,
    default_width: int = 8000,
    default_height: int = 4000,
) -> DataFrame:
    """Best-scoring detection per (photo, cluster), polygon cast to 3D rays.

    Reference :145-199. ``pose`` is the reference.csv table (J1, broadcast);
    ``photo_dims`` optionally supplies (file_name, image_width, image_height)
    — the reference sniffs JPEG headers per photo (:302-310, replaced by the
    multimodal metadata source); absent, panorama dims default to 8000×4000.

    Orientation: roll is negated, heading gets +90° (reference :185-188);
    pandas ``float(Series)`` scalar-add semantics intended there are applied
    per row here.
    """
    # One exchange by file_name serves both the (file_name, group_idx)
    # window and the per-photo UDF below; broadcast joins keep it.
    nonempty = grouped.filter(F.col("polygon_json").isNotNull()).repartition(
        "file_name"
    )
    # pandas idxmax = FIRST max in row order → tiebreak on obj_idx.
    w = Window.partitionBy("file_name", "group_idx").orderBy(
        F.desc("score"), F.asc("obj_idx")
    )
    best = (
        nonempty.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "group_idx")
    )

    stem = F.split(F.col("file_name"), r"\.")[0]
    pose_sel = pose.select(
        F.col("file_name").alias("_stem"),
        F.col("roll[deg]").alias("roll_deg"),
        F.col("pitch[deg]").alias("pitch_deg"),
        F.col("heading[deg]").alias("heading_deg"),
        F.col("projectedX[m]").alias("proj_x"),
        F.col("projectedY[m]").alias("proj_y"),
        F.col("projectedZ[m]").alias("proj_z"),
    )
    joined = best.withColumn("_stem", stem).join(
        F.broadcast(pose_sel), "_stem", "inner"
    )
    if photo_dims is not None:
        joined = joined.join(F.broadcast(photo_dims), "file_name", "left").fillna(
            {"image_width": default_width, "image_height": default_height}
        )
    else:
        joined = joined.withColumn("image_width", F.lit(default_width)).withColumn(
            "image_height", F.lit(default_height)
        )

    return joined.groupBy("file_name").applyInPandas(
        _rays_one_photo, _BEST_LINES_SCHEMA
    )


# ---------------------------------------------------------------------------
# Stage 3: ray ↔ mesh intersection (U6)
# ---------------------------------------------------------------------------


def point_and_mesh_intersection(
    spark: SparkSession, best_lines: DataFrame, triangles: np.ndarray
) -> DataFrame:
    """Replace each ray endpoint with its first mesh hit (reference :202-234).

    ``triangles``: (M, 3, 3) float array (M may be 0: every ray misses),
    broadcast to executors as its ``geometry.TileIndex``. Rays run
    from ``origin`` *through* each polygon_3d point — the intended semantics
    of the reference's ``multi_ray_trace(origins, points)`` call (it passes
    absolute points where pyvista expects directions; we use point - origin
    and document the deviation). Misses keep the original point, matching the
    reference's ``if points[k] is not None`` write-back (:222-226) — but
    indexed correctly per row, not via its enumerate-index bug (SURVEY.md
    §7.2 "reference bugs").
    """
    index_b = spark.sparkContext.broadcast(G.build_tile_index(triangles))
    schema = best_lines.schema

    def _intersect(batches):
        index = index_b.value
        for pdf in batches:
            lens = pdf["polygon_3d"].map(len)
            pdf, lens = pdf[lens > 1], lens[lens > 1].to_numpy()  # P7 (:208)
            if pdf.empty:
                yield pdf
                continue
            pts = np.stack(np.concatenate(pdf["polygon_3d"].to_numpy()))
            origins = np.repeat(np.stack(pdf["origin"].to_numpy()), lens, axis=0)
            hits = G.first_hits(index, origins, pts - origins)
            merged = np.where(np.isnan(hits), pts, hits)
            pdf = pdf.copy()
            pdf["polygon_3d"] = [
                list(m) for m in np.split(merged, np.cumsum(lens)[:-1])
            ]
            yield pdf

    return best_lines.mapInPandas(_intersect, schema)
