"""End-to-end pipeline tests on synthesized reference-domain fixtures
(FIXTURES.md §2): results.json → detected_objects; the street-level
grouping chain; ray↔mesh intersection; the photo fan-out round trip."""

from __future__ import annotations

import json
import math

import numpy as np
import pytest

from hg_data_pipelines_spark.functions import geometry as G
from hg_data_pipelines_spark.io import (
    read_parquet,
    read_pose_csv,
    read_results_json,
    write_warehouse_table,
)
from hg_data_pipelines_spark.pipelines import (
    best_lines_3d,
    generate_projections,
    grouped_detected_objects,
    point_and_mesh_intersection,
    theta_subdivisions,
)
from hg_data_pipelines_spark.pipelines.detected_objects import (
    build_detected_objects,
    class_counts,
)
from hg_data_pipelines_spark.pipelines.street_level import detected_with_idx

from reference_oracle import oracle_grouping, oracle_point_to_3d

W, H = 8000, 4000


def _square(x, y, s=300, seg=8):
    """Square ring subdivided into ``seg`` points per edge, so the
    stride-10 polygon subsample (street_level_grouping.py:166) keeps >1
    point — real detector polygons have hundreds of vertices."""
    pts = []
    for (x0, y0), (x1, y1) in [
        ((x, y), (x + s, y)),
        ((x + s, y), (x + s, y + s)),
        ((x + s, y + s), (x, y + s)),
        ((x, y + s), (x, y)),
    ]:
        for k in range(seg):
            t = k / seg
            pts.append([float(x0 + (x1 - x0) * t), float(y0 + (y1 - y0) * t)])
    return pts


def _fixture_results(tmp_path):
    """Per FIXTURES.md §2.1: overlapping pairs, a seam-crossing bbox, an
    empty polygon, a malformed polygon."""
    rng = np.random.default_rng(42)
    photos = []
    for p in range(5):
        objects = []
        base_x = 500 + p * 700
        # two heavily-overlapping pairs (IoU > 0.01) + distant singles
        for k, dx in enumerate([0, 40, 2000, 2040, 4000]):
            x, y = base_x + dx, 800 + 50 * k
            objects.append(
                {
                    "bbox": [float(x), float(y), float(x + 400), float(y + 600)],
                    "polygon": {"type": "Polygon", "coordinates": [_square(x, y)]},
                    "score": round(float(rng.uniform(0.5, 0.99)), 3),
                    "class": int(rng.choice([1, 2, 3, 4, 7, 8, 9, 10])),
                }
            )
        # seam-crossing bbox: raw span > 95% of W triggers reorder
        objects.append(
            {
                "bbox": [10.0, 100.0, 7990.0, 700.0],
                "polygon": {"type": "Polygon", "coordinates": [_square(7600, 100)]},
                "score": 0.88,
                "class": 1,
            }
        )
        # empty polygon (mask absent) → P6 filter
        objects.append(
            {
                "bbox": [5000.0, 900.0, 5400.0, 1500.0],
                "polygon": None,
                "score": 0.95,
                "class": 3,
            }
        )
        # malformed polygon (2 points) → WKT fallback
        objects.append(
            {
                "bbox": [6000.0, 900.0, 6400.0, 1500.0],
                "polygon": {"type": "Polygon",
                            "coordinates": [[[0.0, 0.0], [1.0, 1.0]]]},
                "score": 0.75,
                "class": 7,
            }
        )
        photos.append({"file_name": f"pano_{p:04d}.jpg", "objects": objects})
    path = tmp_path / "results.json"
    path.write_text(json.dumps(photos))
    return str(path), photos


def _fixture_pose(tmp_path, photos):
    lines = ["file_name\troll[deg]\tpitch[deg]\theading[deg]\t"
             "projectedX[m]\tprojectedY[m]\tprojectedZ[m]"]
    for i, p in enumerate(photos):
        stem = p["file_name"].split(".")[0]
        lines.append(
            f"{stem}\t{1.2 + i}\t{-0.8 + 0.1 * i}\t{213.5 + 10 * i}"
            f"\t{582100.0 + i}\t{6002250.0 - i}\t{97.3}"
        )
    path = tmp_path / "reference.csv"
    path.write_text("\n".join(lines))
    return str(path)


@pytest.fixture(scope="module")
def fixtures(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("heritage")
    results_path, photos = _fixture_results(tmp)
    pose_path = _fixture_pose(tmp, photos)
    return {"results": results_path, "pose": pose_path, "photos": photos}


class TestDetectedObjects:
    def test_explode_join_wkt(self, spark, fixtures):
        df = build_detected_objects(spark, fixtures["results"], with_uuid=True)
        rows = df.collect()
        assert len(rows) == 5 * 8
        byname = {(r["file_name"], tuple(r["bbox"])): r for r in rows}
        # class dim join filled names
        assert all(r["class_name"] is not None for r in rows)
        # uuid present and unique
        assert len({r["id"] for r in rows}) == len(rows)
        # empty polygon → POLYGON EMPTY (reference's except-fallback)
        empt = byname[("pano_0000.jpg", (5000.0, 900.0, 5400.0, 1500.0))]
        assert empt["polygon"] == "POLYGON EMPTY"
        malformed = byname[("pano_0000.jpg", (6000.0, 900.0, 6400.0, 1500.0))]
        assert malformed["polygon"] == "POLYGON EMPTY"
        # well-formed polygon → closed-ring WKT
        good = byname[("pano_0000.jpg", (500.0, 800.0, 900.0, 1400.0))]
        assert good["polygon"].startswith("POLYGON ((500 800, 537.5 800, ")
        assert good["polygon"].endswith("500 800))")

    def test_all_null_polygons_are_empty_wkt(self, spark, tmp_path):
        # every polygon absent: the WKT UDF's Arrow batches are all-null
        # array<array<array<double>>> lists
        objs = [
            {"bbox": [1.0, 2.0, 3.0, 4.0], "polygon": None, "score": 0.5,
             "class": 1},
            {"bbox": [5.0, 6.0, 7.0, 8.0], "polygon": None, "score": 0.6,
             "class": 2},
        ]
        path = tmp_path / "results.json"
        path.write_text(json.dumps([{"file_name": "p.jpg", "objects": objs}]))
        rows = build_detected_objects(spark, str(path), with_uuid=False).collect()
        assert [r["polygon"] for r in rows] == ["POLYGON EMPTY"] * 2

    def test_class_counts_report(self, spark, fixtures):
        df = build_detected_objects(spark, fixtures["results"], with_uuid=False)
        counts = class_counts(df).collect()
        assert sum(r["count"] for r in counts) == 40
        assert counts == sorted(
            counts, key=lambda r: (-r["count"], r["class_name"])
        )


class TestStreetLevelGrouping:
    def test_group_idx_matches_reference_oracle(self, spark, fixtures):
        raw = read_results_json(spark, fixtures["results"])
        detected = detected_with_idx(raw)
        grouped = grouped_detected_objects(detected).collect()
        by_photo = {}
        for r in grouped:
            by_photo.setdefault(r["file_name"], []).append(r)
        for photo in fixtures["photos"]:
            rows = sorted(by_photo[photo["file_name"]], key=lambda r: r["obj_idx"])
            bboxes = [o["bbox"] for o in photo["objects"]]
            expected = oracle_grouping(bboxes, 0.01, W)
            assert [r["group_idx"] for r in rows] == expected, photo["file_name"]
            # overlapping pair (idx 0,1) grouped together; distant ones apart
            assert expected[0] == expected[1]
            assert expected[0] != expected[4]

    def test_best_lines_3d_rays(self, spark, fixtures):
        raw = read_results_json(spark, fixtures["results"])
        detected = detected_with_idx(raw)
        grouped = grouped_detected_objects(detected)
        pose = read_pose_csv(spark, fixtures["pose"])
        best = best_lines_3d(grouped, pose).collect()

        # empty-polygon object excluded (P6); every row has origin + rays
        assert all(len(r["polygon_3d"]) >= 1 for r in best)
        photo0 = [r for r in best if r["file_name"] == "pano_0000.jpg"]
        assert photo0, "photo 0 produced no best rows"

        # Verify one ray against the scalar reference oracle: best row of
        # the (0,1) overlap group in photo 0 is the higher-score member.
        objs = fixtures["photos"][0]["objects"]
        pair_best = objs[0] if objs[0]["score"] >= objs[1]["score"] else objs[1]
        row = next(
            r for r in best
            if r["file_name"] == "pano_0000.jpg"
            and list(r["bbox"]) == pair_best["bbox"]
        )
        ring = pair_best["polygon"]["coordinates"][0]
        ring_closed = ring + [ring[0]]
        first_pt = ring_closed[::10][0]
        exp = oracle_point_to_3d(
            (int(first_pt[0]), int(first_pt[1])),
            math.radians(-1.2), math.radians(-0.8), math.radians(213.5 + 90),
            (582100.0, 6002250.0, 97.3), W, H,
        )
        np.testing.assert_allclose(row["polygon_3d"][0], exp, rtol=1e-9)

    def test_best_lines_3d_shuffles_once(self, spark, fixtures, tmp_path):
        # one exchange by file_name serves both the best-row window and the
        # per-photo ray UDF; the pose join is a broadcast. The input is the
        # landed grouped table, as in the street_level_grouping pipeline.
        raw = read_results_json(spark, fixtures["results"])
        path = write_warehouse_table(
            grouped_detected_objects(detected_with_idx(raw)), str(tmp_path), "g"
        )
        best = best_lines_3d(
            read_parquet(spark, path), read_pose_csv(spark, fixtures["pose"])
        )
        plan = best._jdf.queryExecution().executedPlan().toString()
        shuffles = [
            line.strip()
            for line in plan.splitlines()
            if "Exchange" in line and "BroadcastExchange" not in line
        ]
        assert len(shuffles) == 1, plan
        assert "hashpartitioning(file_name" in shuffles[0], plan

    def test_mesh_intersection_replaces_hits(self, spark, fixtures):
        raw = read_results_json(spark, fixtures["results"])
        detected = detected_with_idx(raw)
        grouped = grouped_detected_objects(detected)
        pose = read_pose_csv(spark, fixtures["pose"])
        best = best_lines_3d(grouped, pose)

        # Wall box around the cameras: every ray hits some face.
        cx, cy, cz = 582102.0, 6002248.0, 97.3
        s = 50.0
        v = np.array(
            [[cx - s, cy - s, cz - s], [cx + s, cy - s, cz - s],
             [cx + s, cy + s, cz - s], [cx - s, cy + s, cz - s],
             [cx - s, cy - s, cz + s], [cx + s, cy - s, cz + s],
             [cx + s, cy + s, cz + s], [cx - s, cy + s, cz + s]]
        )
        quads = [(0, 1, 2, 3), (4, 5, 6, 7), (0, 1, 5, 4),
                 (2, 3, 7, 6), (1, 2, 6, 5), (0, 3, 7, 4)]
        tris = []
        for a, b, c, d in quads:
            tris.append([v[a], v[b], v[c]])
            tris.append([v[a], v[c], v[d]])
        tris = np.array(tris)

        out = point_and_mesh_intersection(spark, best, tris).collect()
        assert out
        for r in out:
            origin = np.array(r["origin"])
            for p in r["polygon_3d"]:
                # every returned point lies on the box surface (some coord
                # at ±s from center) — i.e., the hit replaced the unit point
                d = np.abs(np.array(p) - np.array([cx, cy, cz]))
                assert np.isclose(d.max(), s, atol=1e-6), (r["file_name"], p)
                assert not np.allclose(p, origin)


class TestPhotoFanout:
    def test_theta_subdivisions(self):
        assert theta_subdivisions(20) == list(range(0, 360, 18))

    def test_projection_fanout_shapes(self, spark):
        from hg_data_pipelines_spark.multimodal import decode_image, encode_image

        rng = np.random.default_rng(7)
        img = rng.integers(0, 255, size=(64, 128, 3), dtype=np.uint8)
        photos = spark.createDataFrame(
            [("pano_a.raw", bytearray(encode_image(img)))], "path string, content binary"
        )
        crops = generate_projections(
            spark, photos, subdivisions=4, crop_w=16, crop_h=16
        ).collect()
        assert len(crops) == 4
        assert sorted(c["theta"] for c in crops) == [0, 90, 180, 270]
        assert {c["crop_name"] for c in crops} == {
            "0_pano_a.raw", "90_pano_a.raw", "180_pano_a.raw", "270_pano_a.raw"
        }
        for c in crops:
            arr = decode_image(bytes(c["content"]))
            assert arr.shape == (16, 16, 3)

        # Deterministic: same input → identical bytes across runs.
        again = generate_projections(
            spark, photos, subdivisions=4, crop_w=16, crop_h=16
        ).collect()
        assert {bytes(c["content"]) for c in crops} == {
            bytes(c["content"]) for c in again
        }


class TestVisualize:
    def test_annotations_drawn_and_resized(self, spark, fixtures):
        from hg_data_pipelines_spark.io import read_results_json
        from hg_data_pipelines_spark.multimodal import decode_image, encode_image
        from hg_data_pipelines_spark.pipelines.street_level import (
            detected_with_idx,
            grouped_detected_objects,
        )
        from hg_data_pipelines_spark.pipelines.visualize import annotate_detections

        raw = read_results_json(spark, fixtures["results"])
        grouped = grouped_detected_objects(detected_with_idx(raw))

        # gray panoramas big enough that fixture bboxes (x up to ~2500 for
        # the first photos) land inside and their 5px borders survive the
        # 1/5 resize stride
        img = np.full((1500, 3000, 3), 128, dtype=np.uint8)
        photos = spark.createDataFrame(
            [
                (p["file_name"], bytearray(encode_image(img)))
                for p in fixtures["photos"][:2]
            ],
            "file_name string, content binary",
        )
        out = {r["file_name"]: r for r in annotate_detections(photos, grouped).collect()}
        assert len(out) == 2
        for r in out.values():
            assert r["n_drawn"] >= 1  # score>0.9 detections exist per photo
            arr = decode_image(bytes(r["content"]))
            assert arr.shape == (300, 600, 3)  # 1/5 stride
            # some pixels were recolored away from the gray background
            assert (arr != 128).any()

    def test_photo_without_detections_passes_through(self, spark, fixtures):
        from hg_data_pipelines_spark.multimodal import decode_image, encode_image
        from hg_data_pipelines_spark.pipelines.visualize import annotate_detections

        img = np.full((20, 40, 3), 99, dtype=np.uint8)
        photos = spark.createDataFrame(
            [("unknown.jpg", bytearray(encode_image(img)))],
            "file_name string, content binary",
        )
        grouped = spark.createDataFrame(
            [], "file_name string, bbox array<double>, score double, group_idx int"
        )
        out = annotate_detections(photos, grouped).collect()
        assert out[0]["n_drawn"] == 0
        assert (decode_image(bytes(out[0]["content"])) == 99).all()
