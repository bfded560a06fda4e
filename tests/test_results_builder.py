"""results_file asset parity: per-crop predictions on disk → results.json
rows, inverse projections matching the engine kernels, positional zip
preserved, and the output feeds the downstream pipelines unchanged."""

from __future__ import annotations

import json

import numpy as np
import pytest

from hg_data_pipelines_spark.functions import geometry as G
from hg_data_pipelines_spark.io import read_predictions_json
from hg_data_pipelines_spark.pipelines.results_builder import (
    CROP_H,
    CROP_W,
    FOV,
    PHI,
    build_results,
)

W, H = 8000, 4000


def _rle_rect(x1, y1, x2, y2, h=1000, w=1000):
    """Uncompressed column-major COCO RLE for a solid rectangle."""
    counts = []
    pos = 0
    for col in range(w):
        if x1 <= col < x2:
            start = col * h + y1
            counts.append(start - pos)
            counts.append(y2 - y1)
            pos = start + (y2 - y1)
    counts.append(h * w - pos)
    return " ".join(str(c) for c in counts)


@pytest.fixture(scope="module")
def predictions_dir(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("preds")
    # two photos × two thetas, parallel arrays (FIXTURES.md §2.2)
    for stem in ("pano_0000", "pano_0001"):
        for theta in (0, 54):
            payload = {
                "bboxes": [[100.0, 200.0, 400.0, 600.0], [500.0, 100.0, 800.0, 300.0]],
                "labels": [1, 3],
                "scores": [0.91, 0.72],
                "masks": [
                    {"size": [1000, 1000], "counts": _rle_rect(100, 200, 400, 600)},
                    None,
                ],
            }
            (tmp / f"{theta}_{stem}.json").write_text(json.dumps(payload))
    return str(tmp)


class TestResultsBuilder:
    def test_shape_and_order(self, spark, predictions_dir):
        preds = read_predictions_json(spark, predictions_dir + "/*.json")
        rows = build_results(preds).collect()
        assert sorted(r["file_name"] for r in rows) == [
            "pano_0000.jpg",
            "pano_0001.jpg",
        ]
        for r in rows:
            # 2 thetas × 2 objects, ordered by (theta, pos)
            assert len(r["objects"]) == 4
            scores = [o["score"] for o in r["objects"]]
            assert scores == [0.91, 0.72, 0.91, 0.72]

    def test_bbox_matches_kernel(self, spark, predictions_dir):
        preds = read_predictions_json(spark, predictions_dir + "/*.json")
        rows = {r["file_name"]: r for r in build_results(preds).collect()}
        got = rows["pano_0000.jpg"]["objects"][2]["bbox"]  # theta=54, pos=0
        exp = G.bbox_inverse(
            FOV, 54.0, PHI, CROP_H, CROP_W,
            np.array([[100.0, 200.0, 400.0, 600.0]]), H, W,
        )[0]
        assert [int(v) for v in got] == [int(v) for v in exp]

    def test_mask_polygon_projected_null_mask_empty(self, spark, predictions_dir):
        preds = read_predictions_json(spark, predictions_dir + "/*.json")
        rows = {r["file_name"]: r for r in build_results(preds).collect()}
        objs = rows["pano_0000.jpg"]["objects"]
        with_mask = objs[0]
        assert with_mask["polygon"] is not None
        ring = with_mask["polygon"]["coordinates"][0]
        assert ring[0] == ring[-1]  # closed
        assert len(ring) == 5       # rectangle + closing point
        without_mask = objs[1]
        assert without_mask["polygon"] is None

    def test_all_masks_null_every_polygon_none(self, spark, tmp_path):
        # every projected batch carries only null polygons: the typed
        # GeoJSON struct must cross pandas -> Arrow all-None
        payload = {
            "bboxes": [[100.0, 200.0, 400.0, 600.0], [500.0, 100.0, 800.0, 300.0]],
            "labels": [1, 3],
            "scores": [0.91, 0.72],
            "masks": [None, None],
        }
        (tmp_path / "0_pano_0000.json").write_text(json.dumps(payload))
        preds = read_predictions_json(spark, str(tmp_path / "*.json"))
        (row,) = build_results(preds).collect()
        assert [o["polygon"] for o in row["objects"]] == [None, None]
        assert [o["score"] for o in row["objects"]] == [0.91, 0.72]

    def test_feeds_downstream_pipeline(self, spark, predictions_dir, tmp_path):
        """The builder's output IS the street-level input: write it as
        results.json, run the grouping stage on it."""
        from hg_data_pipelines_spark.io import read_results_json
        from hg_data_pipelines_spark.pipelines.street_level import (
            detected_with_idx,
            grouped_detected_objects,
        )

        preds = read_predictions_json(spark, predictions_dir + "/*.json")
        results = build_results(preds)
        out = [r.asDict(recursive=True) for r in results.collect()]
        p = tmp_path / "results.json"
        p.write_text(json.dumps(out))

        raw = read_results_json(spark, str(p))
        grouped = grouped_detected_objects(detected_with_idx(raw)).collect()
        assert len(grouped) == 8
        assert all(r["group_idx"] >= 0 for r in grouped)
        assert all(r["class_name"] in ("Window", "Door") for r in grouped)
