"""The ``results_file`` asset: per-crop detector output → results.json.

Reference (street_level_grouping.py:35-83): nested Python loops — for each
photo, for each predictions file named ``{theta}_{photo_stem}.json``,
inverse-project every bbox (GetBboxInverse) and mask polygon
(GetPolygonInverse) from crop coords back onto the panorama, then assemble
the per-photo object list and dump results.json.

Spark-first translation:
- the predictions directory is ONE ``spark.read.json`` glob (S1); theta and
  the photo stem parse out of ``input_file_name`` (the reference encodes
  them in the file name, tls_photo_processing.py:37);
- the parallel arrays (bboxes/labels/scores/masks) zip positionally via
  ``arrays_zip``+``posexplode`` (J3) — no Python loop;
- inverse projection runs vectorized per Arrow batch in ``mapInPandas``
  (U3 kernels), which emits the typed GeoJSON polygon struct directly;
- the per-photo nested rebuild is ``collect_list(struct(...))`` ordered by
  (theta, position) — a deterministic total order where the reference
  inherited ``os.listdir`` order (SURVEY.md §7.2 determinism rule);
- ``write_json``/``to_json`` lands the same shape the downstream
  ``detected_objects``/street-level pipelines consume, closing the DAG.

Scale: per-crop rows are independent until the final per-photo collect
(one shuffle on file_name); a panorama's detections are bounded, so the
collected array stays small.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import geometry as G
from ..schemas import GEOJSON_POLYGON

FOV = 60.0  # reference: street_level_grouping.py:37-40
PHI = -10.0
CROP_W = 1000
CROP_H = 1000

_PROJECTED = T.StructType(
    [
        T.StructField("photo_stem", T.StringType()),
        T.StructField("theta", T.IntegerType()),
        T.StructField("pos", T.IntegerType()),
        T.StructField("bbox", T.ArrayType(T.DoubleType())),
        T.StructField("polygon", GEOJSON_POLYGON),
        T.StructField("score", T.DoubleType()),
        T.StructField("class", T.IntegerType()),
    ]
)


def _project_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        if pdf.empty:
            yield pd.DataFrame({f.name: [] for f in _PROJECTED.fields})
            continue
        out = {k: [] for k in
               ("photo_stem", "theta", "pos", "bbox", "polygon", "score", "class")}
        for theta, sub in pdf.groupby("theta"):
            bboxes = np.array([list(b) for b in sub["bbox"]], dtype=np.float64)
            inv = G.bbox_inverse(
                FOV, float(theta), PHI, CROP_H, CROP_W, bboxes,
                int(sub["pano_h"].iloc[0]), int(sub["pano_w"].iloc[0]),
            )
            for (_, row), bbox360 in zip(sub.iterrows(), inv):
                out["photo_stem"].append(row["photo_stem"])
                out["theta"].append(int(theta))
                out["pos"].append(int(row["pos"]))
                out["bbox"].append([float(v) for v in bbox360])
                out["score"].append(float(row["score"]))
                out["class"].append(int(row["class"]))
                poly = None
                if row["mask_counts"] is not None:
                    ring = G.rle_to_polygon(
                        row["mask_counts"],
                        (int(row["mask_h"]), int(row["mask_w"])),
                    )
                    if ring is not None:
                        ring360 = G.polygon_inverse(
                            FOV, float(theta), PHI, CROP_H, CROP_W,
                            ring.astype(np.float64),
                            int(row["pano_h"].item() if hasattr(row["pano_h"], "item") else row["pano_h"]),
                            int(row["pano_w"].item() if hasattr(row["pano_w"], "item") else row["pano_w"]),
                        )
                        pts = [[int(x), int(y)] for x, y in ring360]
                        if pts[0] != pts[-1]:
                            pts.append(pts[0])  # shapely mapping closes the ring
                        poly = {"type": "Polygon", "coordinates": [pts]}
                out["polygon"].append(poly)
        yield pd.DataFrame(out)


def build_results(
    predictions: DataFrame,
    pano_width: int = 8000,
    pano_height: int = 4000,
) -> DataFrame:
    """Predictions (from ``io.read_predictions_json``) → results.json rows.

    Output schema == ``schemas.RESULTS_JSON``: (file_name, objects) with
    objects ordered by (theta, in-file position).
    """
    base = F.element_at(F.split(F.col("_path"), "/"), -1)
    parsed = predictions.select(
        F.split(base, "_")[0].cast("int").alias("theta"),
        F.regexp_extract(base, r"^\d+_(.+)\.json$", 1).alias("photo_stem"),
        F.posexplode(
            F.arrays_zip(
                F.col("bboxes").alias("bbox"),
                F.col("labels").alias("class"),
                F.col("scores").alias("score"),
                F.col("masks").alias("mask"),
            )
        ).alias("pos", "z"),
    ).select(
        "photo_stem",
        "theta",
        F.col("pos").cast("int"),
        F.col("z.bbox").alias("bbox"),
        F.col("z.class").alias("class"),
        F.col("z.score").alias("score"),
        F.col("z.mask.counts").alias("mask_counts"),
        F.col("z.mask.size")[0].alias("mask_h"),
        F.col("z.mask.size")[1].alias("mask_w"),
        F.lit(pano_width).alias("pano_w"),
        F.lit(pano_height).alias("pano_h"),
    )

    return (
        parsed.mapInPandas(_project_batch, _PROJECTED)
        .groupBy("photo_stem")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("theta"),
                        F.col("pos"),
                        F.struct("bbox", "polygon", "score", "class").alias("o"),
                    )
                )
            ).alias("_ordered")
        )
        .select(
            F.concat(F.col("photo_stem"), F.lit(".jpg")).alias("file_name"),
            F.expr("transform(_ordered, x -> x.o)").alias("objects"),
        )
    )
