"""Property test of the tile-culled ray–mesh kernel
(``geometry.ray_triangle_intersections``): its first hits equal the
brute-force oracle — every ray against every triangle with the same
per-pair Möller–Trumbore arithmetic — bit for bit, NaN pattern included.

Inputs aim at the ways a cull can drop a hit: rays through edges and
vertices that neighbouring tiles share, origins inside a tile box and on a
box face, directions with zero components (±inf and 0/0 in the slab test),
rays parallel to a triangle (det ≈ 0), zero-area triangles, ray chunks
split mid-origin, and meshes rotated and offset to UTM scale (~6e6 m).
Edges stay under ~10 m, so a det that is only rounding noise stays under
the kernel's 1e-12 threshold, as it does for real facade meshes."""

from __future__ import annotations

from unittest import mock

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from hg_data_pipelines_spark.functions import geometry as G
from reference_oracle import oracle_ray_triangle_intersections

UTM = np.array([582_000.0, 6_002_000.0, 90.0])
_SPECIAL = np.array([0.0, -0.0, 1e-300])  # direction components


def _rotation(rng) -> np.ndarray:
    q = rng.normal(size=4)
    w, x, y, z = q / np.linalg.norm(q)
    return np.array(
        [
            [1 - 2 * (y * y + z * z), 2 * (x * y - z * w), 2 * (x * z + y * w)],
            [2 * (x * y + z * w), 1 - 2 * (x * x + z * z), 2 * (y * z - x * w)],
            [2 * (x * z - y * w), 2 * (y * z + x * w), 1 - 2 * (x * x + y * y)],
        ]
    )


@st.composite
def scenes(draw):
    """(triangles, origins, directions) with ray groups sharing origins."""
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    if draw(st.booleans()):  # height-field grid: tiles share edges/vertices
        nx, ny = draw(st.integers(1, 12)), draw(st.integers(1, 12))
        xs, ys = np.meshgrid(np.arange(nx + 1) * 1.5, np.arange(ny + 1), indexing="ij")
        bump = draw(st.sampled_from([0.0, 0.3]))
        v = np.stack([xs, ys, rng.uniform(-bump, bump, xs.shape)], axis=-1)
        tri = np.array(
            [
                t
                for i in range(nx)
                for j in range(ny)
                for t in (
                    (v[i, j], v[i + 1, j], v[i + 1, j + 1]),
                    (v[i, j], v[i + 1, j + 1], v[i, j + 1]),
                )
            ]
        )
    else:  # triangle soup, from one triangle up
        m = draw(st.integers(1, 200))
        tri = rng.uniform(-20, 20, (m, 1, 3)) + rng.uniform(-2, 2, (m, 3, 3))
    if draw(st.booleans()):
        tri = tri @ _rotation(rng).T + UTM
    # zero-area triangles: one vertex repeated in the final coordinates
    for i in rng.choice(len(tri), size=draw(st.integers(0, 5)) % (len(tri) + 1)):
        a, b = rng.choice(3, size=2, replace=False)
        tri[i, a] = tri[i, b]

    index = G.build_tile_index(tri)
    verts = tri.reshape(-1, 3)
    origins, dirs = [], []
    for _ in range(draw(st.integers(1, 4))):
        k = rng.integers(len(index.lo))
        o = (index.lo[k] + index.hi[k]) / 2  # inside a tile box
        kind = draw(st.sampled_from(["near", "in_box", "on_face", "on_padded_face"]))
        axis = rng.integers(3)
        if kind == "near":
            o = verts.mean(axis=0) + rng.normal(0, 10, 3)
        elif kind == "on_face":
            o[axis] = index.lo[k, axis]
        elif kind == "on_padded_face":  # the slab test sees 0/0 when d[axis] = 0
            o[axis] = index.lo[k, axis] - G._BOX_PAD * (1.0 + index.scale)
        for _ in range(draw(st.integers(0, 30))):
            j = rng.integers(len(tri))
            kind = rng.choice(["random", "vertex", "edge", "parallel"])
            if kind == "random":
                d = rng.normal(size=3)
            elif kind == "vertex":
                d = verts[rng.integers(len(verts))] - o
            elif kind == "edge":
                a, b = rng.choice(3, size=2, replace=False)
                d = tri[j, a] + rng.random() * (tri[j, b] - tri[j, a]) - o
            else:  # in the plane of triangle j
                a, b = rng.integers(-2, 3, size=2)
                d = a * (tri[j, 1] - tri[j, 0]) + b * (tri[j, 2] - tri[j, 0])
            if rng.random() < 0.5:  # aimed exactly, then rounded off the target
                d = d * rng.uniform(0.25, 2.0)
            zero = rng.random(3) < 0.25
            if kind != "random" and rng.random() < 0.3:
                zero[axis] = True
            d[zero] = rng.choice(_SPECIAL, size=zero.sum())
            origins.append(o)
            dirs.append(d)
    return tri, np.array(origins).reshape(-1, 3), np.array(dirs).reshape(-1, 3)


class TestTileCulledKernel:
    @settings(max_examples=300, deadline=None)
    @given(scene=scenes(), mask_cells=st.sampled_from([1, 7, 1 << 16]))
    def test_bit_identical_to_brute_force(self, scene, mask_cells):
        tri, origins, dirs = scene
        with mock.patch.object(G, "_MASK_CELLS", mask_cells):
            got = G.ray_triangle_intersections(origins, dirs, tri)
        with np.errstate(invalid="ignore", over="ignore"):
            want = oracle_ray_triangle_intersections(origins, dirs, tri)
        assert got.shape == want.shape
        assert got.tobytes() == want.tobytes()

    def test_empty_mesh_every_ray_misses(self):
        for tri in (np.zeros((0, 3, 3)), np.zeros(0)):
            pts = G.ray_triangle_intersections(np.zeros((3, 3)), np.eye(3), tri)
            assert pts.shape == (3, 3) and np.isnan(pts).all()

    def test_zero_rays(self):
        tri = np.array([[[0, 0, 5], [1, 0, 5], [0, 1, 5]]], dtype=np.float64)
        pts = G.ray_triangle_intersections(np.zeros((0, 3)), np.zeros((0, 3)), tri)
        assert pts.shape == (0, 3)
