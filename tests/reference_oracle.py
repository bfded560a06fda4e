"""Scalar re-derivations of the reference's geometric formulas, used as
test oracles (SURVEY.md §5.2) — one value at a time, straight from the
math in the cited reference lines, independent of the engine's vectorized
kernels in ``hg_data_pipelines_spark.functions.geometry``.

Oracle sources:
- IoU / seam wraparound: heritage-guard entities/bbox.py
- pixel → 3D ray:        street_level_grouping.py:257-299
- bbox inverse project:  helpers/Equirec2Perspec.py:93-119
- first ray-mesh hit:    the engine's former brute-force Möller–Trumbore,
                         every ray against every triangle (the tile-culled
                         kernel must match it bit for bit)
"""

from __future__ import annotations

import math

import numpy as np

W, H = 8000, 4000


def oracle_bbox_fields(bbox, image_width=W):
    """(x_min, y_min, x_max, y_max, theta_min, theta_max, area) after seam
    normalization (bbox.py: __init__, width/area properties)."""
    if bbox[2] - bbox[0] > image_width * 0.95:
        x_max, y_min, x_min, y_max = bbox
    else:
        x_min, y_min, x_max, y_max = bbox
    theta_min = x_min / image_width * 360
    theta_max = x_max / image_width * 360
    width = (x_max - x_min) % image_width
    area = width * (y_max - y_min)
    return x_min, y_min, x_max, y_max, theta_min, theta_max, area


def oracle_theta_overlap(tmin1, tmax1, tmin2, tmax2):
    """Angular overlap with seam handling (bbox.py:71-96)."""
    tmin1, tmax1 = tmin1 % 360, tmax1 % 360
    tmin2, tmax2 = tmin2 % 360, tmax2 % 360
    c1, c2 = tmax1 < tmin1, tmax2 < tmin2
    if not c1 and not c2:
        return max(0, min(tmax1, tmax2) - max(tmin1, tmin2))
    if c1:
        tmax1 += 360
    if c2:
        tmax2 += 360
    return min(max(0, min(tmax1, tmax2) - max(tmin1, tmin2)), 360)


def oracle_iou(bbox_a, bbox_b, image_width=W):
    """Pairwise IoU in the reference's mixed units (bbox.py:98-109)."""
    *_, tmin_a, tmax_a, area_a = oracle_bbox_fields(bbox_a, image_width)
    *_, tmin_b, tmax_b, area_b = oracle_bbox_fields(bbox_b, image_width)
    fa = oracle_bbox_fields(bbox_a, image_width)
    fb = oracle_bbox_fields(bbox_b, image_width)
    t_ov = oracle_theta_overlap(tmin_a, tmax_a, tmin_b, tmax_b)
    y_ov = max(0, min(fa[3], fb[3]) - max(fa[1], fb[1]))
    inter = t_ov * y_ov
    union = area_a + area_b - inter
    return 0.0 if union == 0 else inter / union


def oracle_point_to_3d(point, roll_rad, pitch_rad, heading_rad, origin,
                       image_width, image_height, length=1):
    """One pixel → ray endpoint (street_level_grouping.py:257-299)."""
    x, y = point
    theta = 2 * math.pi * (image_width - x) / image_width
    phi = math.pi * y / image_height
    v = np.array(
        [
            math.sin(phi) * math.cos(theta),
            math.sin(phi) * math.sin(theta),
            math.cos(phi),
        ]
    )
    rx = np.array(
        [
            [1, 0, 0],
            [0, math.cos(roll_rad), -math.sin(roll_rad)],
            [0, math.sin(roll_rad), math.cos(roll_rad)],
        ]
    )
    ry = np.array(
        [
            [math.cos(pitch_rad), 0, math.sin(pitch_rad)],
            [0, 1, 0],
            [-math.sin(pitch_rad), 0, math.cos(pitch_rad)],
        ]
    )
    rz = np.array(
        [
            [math.cos(heading_rad), math.sin(heading_rad), 0],
            [-math.sin(heading_rad), math.cos(heading_rad), 0],
            [0, 0, 1],
        ]
    )
    result = rz @ ry @ rx @ v
    if length != 1:
        result = result * length
    return tuple(result + np.array(origin))


def oracle_grouping(bboxes, threshold, image_width=W):
    """Greedy grouping (bbox_grouping.py:25-52) → group id per bbox index."""
    n = len(bboxes)
    sim = [[0.0] * n for _ in range(n)]
    for i in range(n):
        for j in range(n):
            if i != j:
                sim[i][j] = oracle_iou(bboxes[i], bboxes[j], image_width)
    grouped = [False] * n
    groups = []
    for i in range(n):
        if not any(sim[i][j] > 0 for j in range(n) if i != j):
            groups.append([i])
            grouped[i] = True
    for i in range(n):
        if grouped[i]:
            continue
        cur = [i]
        grouped[i] = True
        for j in range(n):
            if not grouped[j] and any(sim[k][j] >= threshold for k in cur):
                cur.append(j)
                grouped[j] = True
        groups.append(cur)
    out = [0] * n
    for gid, members in enumerate(groups):
        for m in members:
            out[m] = gid
    return out


def oracle_ray_triangle_intersections(
    origins: np.ndarray, directions: np.ndarray, triangles: np.ndarray
) -> np.ndarray:
    """First-hit points for N rays against M triangles (Möller–Trumbore).

    (N,3) origins, (N,3) directions, (M,3,3) triangles → (N,3) hit points
    with NaN rows for misses. Replaces the reference's
    mesh.multi_ray_trace(..., first_point=True)
    (street_level_grouping.py:216-218). O(N·M) vectorized; partition rays
    across executors and broadcast triangles for scale.
    """
    origins = np.asarray(origins, dtype=np.float64)
    directions = np.asarray(directions, dtype=np.float64)
    tri = np.asarray(triangles, dtype=np.float64)
    v0, v1, v2 = tri[:, 0], tri[:, 1], tri[:, 2]
    e1, e2 = v1 - v0, v2 - v0  # (M,3)

    eps = 1e-12
    d = directions[:, None, :]  # (N,1,3)
    p = np.cross(d, e2[None, :, :])  # (N,M,3)
    det = np.einsum("mk,nmk->nm", e1, p)
    with np.errstate(divide="ignore", invalid="ignore"):
        inv_det = np.where(np.abs(det) > eps, 1.0 / det, np.nan)
        s = origins[:, None, :] - v0[None, :, :]
        u = np.einsum("nmk,nmk->nm", s, p) * inv_det
        q = np.cross(s, e1[None, :, :])
        v = np.einsum("nmk,nmk->nm", d.repeat(tri.shape[0], axis=1), q) * inv_det
        t = np.einsum("mk,nmk->nm", e2, q) * inv_det
    hit = (
        (u >= 0) & (v >= 0) & (u + v <= 1) & (t > eps) & np.isfinite(t)
    )
    t_masked = np.where(hit, t, np.inf)
    best = np.argmin(t_masked, axis=1)
    best_t = t_masked[np.arange(len(origins)), best]
    pts = origins + best_t[:, None] * directions
    pts[~np.isfinite(best_t)] = np.nan
    return pts
