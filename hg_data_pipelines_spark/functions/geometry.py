"""Panorama/facade geometry — vectorized numpy kernels for pandas UDFs.

Re-implements the reference's geometric semantics (SURVEY.md §2.9 U1-U8)
batch-first: every function takes numpy arrays of N inputs and returns N
outputs, so a single Arrow batch inside a pandas UDF processes thousands of
rows per call. The reference computes these one Python object at a time.

Reference parity (cited per function):
- heritage-guard/heritage_guard/assets/street_level_grouping/
  street_level_grouping.py:257-299 (point_to_3d_line)
- heritage-guard/heritage_guard/helpers/Equirec2Perspec.py:10-141
  (lonlat transforms, calib/rotation matrices, bbox/polygon inverse)
- heritage-guard/heritage_guard/entities/bbox.py (seam normalize, IoU)
- heritage-guard/heritage_guard/entities/bbox_grouping.py (greedy grouping)

cv2 is not a dependency: `cv2.Rodrigues` is replaced by the closed-form
axis-angle rotation (identical math), `cv2.remap`'s INTER_CUBIC/BORDER_WRAP
resampling by `sample_bicubic_wrap` (same Keys a=-0.75 kernel and wrap
semantics, float arithmetic instead of cv2's fixed-point tables), and
`cv2.findContours` by Moore-neighbor border following.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

# --------------------------------------------------------------------------
# Spherical transforms (Equirec2Perspec.py:10-33)
# --------------------------------------------------------------------------


def xyz2lonlat(xyz: np.ndarray) -> np.ndarray:
    """Unit-sphere (lon, lat) of 3D points; lon = atan2(x, z), lat = asin(y).

    Reference: Equirec2Perspec.py:10-25.
    """
    norm = np.linalg.norm(xyz, axis=-1, keepdims=True)
    v = xyz / norm
    lon = np.arctan2(v[..., 0:1], v[..., 2:3])
    lat = np.arcsin(v[..., 1:2])
    return np.concatenate([lon, lat], axis=-1)


def lonlat2xy(lonlat: np.ndarray, height: int, width: int) -> np.ndarray:
    """Equirectangular pixel coords of (lon, lat).

    Reference: Equirec2Perspec.py:27-33 (note the `shape - 1` scaling).
    """
    x = (lonlat[..., 0:1] / (2 * np.pi) + 0.5) * (width - 1)
    y = (lonlat[..., 1:2] / np.pi + 0.5) * (height - 1)
    return np.concatenate([x, y], axis=-1)


def compute_calib_matrix(width: int, height: int, fov_deg: float):
    """Pinhole K and K^-1 for a perspective crop (Equirec2Perspec.py:36-46)."""
    f = 0.5 * width / np.tan(0.5 * np.radians(fov_deg))
    cx = (width - 1) / 2.0
    cy = (height - 1) / 2.0
    K = np.array([[f, 0, cx], [0, f, cy], [0, 0, 1]], np.float32)
    return K, np.linalg.inv(K)


def _axis_angle_rotation(axis: np.ndarray, angle_rad: float) -> np.ndarray:
    """Rodrigues rotation matrix for a unit axis and angle (closed form).

    Drop-in for cv2.Rodrigues(axis * angle) (Equirec2Perspec.py:49-56).
    """
    a = np.asarray(axis, dtype=np.float64)
    n = np.linalg.norm(a)
    if n == 0:
        return np.eye(3)
    a = a / n
    c, s = np.cos(angle_rad), np.sin(angle_rad)
    cross = np.array(
        [[0, -a[2], a[1]], [a[2], 0, -a[0]], [-a[1], a[0], 0]], dtype=np.float64
    )
    return c * np.eye(3) + s * cross + (1 - c) * np.outer(a, a)


def compute_rotation_matrix(theta_deg: float, phi_deg: float) -> np.ndarray:
    """Crop orientation: yaw by -theta about y, then pitch by -phi about the
    rotated x axis (Equirec2Perspec.py:49-56)."""
    y_axis = np.array([0.0, 1.0, 0.0])
    x_axis = np.array([1.0, 0.0, 0.0])
    r1 = _axis_angle_rotation(y_axis, np.radians(-theta_deg))
    r2 = _axis_angle_rotation(r1 @ x_axis, np.radians(-phi_deg))
    return r2 @ r1


def transform_coords(coords: np.ndarray, k_inv: np.ndarray, r: np.ndarray) -> np.ndarray:
    """Pixel homogeneous coords → world rays (Equirec2Perspec.py:59-62).

    Two-stage elementwise multiply-add (K^-1 then R), NOT matmul: numpy
    routes batched `@` through BLAS whose FMA/summation order varies with
    batch size — outputs must be identical for any Arrow batch (see
    ``pixels_to_rays``). The two-stage order matches the reference exactly.
    """
    c0, c1, c2 = coords[..., 0], coords[..., 1], coords[..., 2]
    v0 = k_inv[0, 0] * c0 + k_inv[0, 1] * c1 + k_inv[0, 2] * c2
    v1 = k_inv[1, 0] * c0 + k_inv[1, 1] * c1 + k_inv[1, 2] * c2
    v2 = k_inv[2, 0] * c0 + k_inv[2, 1] * c1 + k_inv[2, 2] * c2
    return np.stack(
        [
            r[0, 0] * v0 + r[0, 1] * v1 + r[0, 2] * v2,
            r[1, 0] * v0 + r[1, 1] * v1 + r[1, 2] * v2,
            r[2, 0] * v0 + r[2, 1] * v1 + r[2, 2] * v2,
        ],
        axis=-1,
    )


# --------------------------------------------------------------------------
# Inverse projections: crop coords → panorama coords (U3)
# --------------------------------------------------------------------------


def bbox_inverse(
    fov: float,
    theta: float,
    phi: float,
    height: int,
    width: int,
    bboxes: np.ndarray,
    pano_height: int,
    pano_width: int,
) -> np.ndarray:
    """Crop-space bboxes (N,4) → panorama-space int bboxes (N,4).

    Vectorized GetBboxInverse (Equirec2Perspec.py:93-119): the four bbox
    corners project through K^-1·R onto the sphere; min/max of the
    projected corners form the panorama bbox.
    """
    bboxes = np.asarray(bboxes, dtype=np.float64).reshape(-1, 4)
    _, k_inv = compute_calib_matrix(width, height, fov)
    r = compute_rotation_matrix(theta, phi)
    x1, y1, x2, y2 = bboxes[:, 0], bboxes[:, 1], bboxes[:, 2], bboxes[:, 3]
    ones = np.ones_like(x1)
    corners = np.stack(
        [
            np.stack([x1, y1, ones], axis=-1),
            np.stack([x2, y1, ones], axis=-1),
            np.stack([x1, y2, ones], axis=-1),
            np.stack([x2, y2, ones], axis=-1),
        ],
        axis=1,
    )  # (N, 4, 3)
    transformed = transform_coords(corners, k_inv, r)
    xy = lonlat2xy(xyz2lonlat(transformed), pano_height, pano_width).astype(np.int32)
    out = np.empty((len(bboxes), 4), dtype=np.int64)
    out[:, 0] = xy[:, :, 0].min(axis=1)
    out[:, 1] = xy[:, :, 1].min(axis=1)
    out[:, 2] = xy[:, :, 0].max(axis=1)
    out[:, 3] = xy[:, :, 1].max(axis=1)
    return out


def polygon_inverse(
    fov: float,
    theta: float,
    phi: float,
    height: int,
    width: int,
    polygon_xy: np.ndarray,
    pano_height: int,
    pano_width: int,
) -> np.ndarray:
    """Crop-space polygon ring (M,2) → panorama-space int ring (M,2).

    GetPolygonInverse (Equirec2Perspec.py:121-141) minus the COCO-RLE mask
    decode (see ``rle_to_polygon``); the projective part is identical.
    """
    pts = np.asarray(polygon_xy, dtype=np.float64).reshape(-1, 2)
    _, k_inv = compute_calib_matrix(width, height, fov)
    r = compute_rotation_matrix(theta, phi)
    xyz = np.concatenate([pts, np.ones((len(pts), 1))], axis=-1)
    transformed = transform_coords(xyz, k_inv, r)
    return lonlat2xy(xyz2lonlat(transformed), pano_height, pano_width).astype(np.int32)


def coco_counts_decode(s: str | bytes) -> list[int]:
    """Compressed COCO RLE charcode string → run counts.

    The public COCO API scheme (pycocotools rleFrString): base-5-bit
    little-endian varints offset by char 48, continuation bit 0x20, sign
    extension via bit 0x10 on the final chunk; every count after the third
    is delta-coded against the count two positions back.
    """
    if isinstance(s, (bytes, bytearray)):
        s = s.decode("ascii")
    counts: list[int] = []
    p = 0
    while p < len(s):
        x, k, more = 0, 0, True
        while more:
            c = ord(s[p]) - 48
            x |= (c & 0x1F) << (5 * k)
            more = bool(c & 0x20)
            p += 1
            k += 1
            if not more and (c & 0x10):
                x |= -1 << (5 * k)
        if len(counts) > 2:
            x += counts[-2]
        counts.append(x)
    return counts


def coco_counts_encode(counts) -> str:
    """Run counts → compressed COCO RLE charcode string (rleToString dual)."""
    out: list[str] = []
    counts = [int(c) for c in counts]
    for i, cnt in enumerate(counts):
        x = cnt - counts[i - 2] if i > 2 else cnt
        more = True
        while more:
            c = x & 0x1F
            x >>= 5  # arithmetic shift, like C signed long
            more = (x != -1) if (c & 0x10) else (x != 0)
            if more:
                c |= 0x20
            out.append(chr(c + 48))
    return "".join(out)


def rle_decode_mask(rle_counts, size: tuple[int, int]) -> np.ndarray:
    """COCO RLE (uncompressed ints or compressed charcodes) → (h, w) uint8.

    Drop-in for pycocotools ``mask.decode`` (Equirec2Perspec.py:122) minus
    the dict wrapper: RLE runs are column-major over the (h, w) grid.
    Accepts a list/tuple of ints, a space-separated digit string
    (uncompressed), or a charcode string/bytes (compressed).
    """
    h, w = size
    if isinstance(rle_counts, (list, tuple, np.ndarray)):
        counts = [int(c) for c in rle_counts]
    else:
        if isinstance(rle_counts, (bytes, bytearray)):
            rle_counts = rle_counts.decode("ascii")
        # COCO's uncompressed form is a list of ints (here also accepted as a
        # space-separated digit string); compressed charcodes never contain
        # spaces, so whitespace is the discriminator.
        if " " in rle_counts.strip():
            counts = [int(c) for c in rle_counts.split()]
        else:
            counts = coco_counts_decode(rle_counts)
    flat = np.zeros(h * w, dtype=np.uint8)
    pos, val = 0, 0
    for c in counts:
        if val:
            flat[pos : pos + c] = 1
        pos += c
        val ^= 1
    return flat.reshape(w, h).T  # COCO RLE is column-major


# Moore 8-neighborhood in (dx, dy), counter-clockwise starting at W (image
# y-axis down) — the scan order that reproduces cv2's outer-contour
# orientation (down the left flank first).
_MOORE = [(-1, 0), (-1, 1), (0, 1), (1, 1), (1, 0), (1, -1), (0, -1), (-1, -1)]
_MOORE_IDX = {d: i for i, d in enumerate(_MOORE)}


def _trace_outer_border(mask: np.ndarray, sx: int, sy: int) -> list[tuple[int, int]]:
    """Moore-neighbor border following from the component's topmost-leftmost
    pixel. Emits the full 8-connected outer border, CCW, pixels on 1-px-wide
    spurs visited twice — the same point stream cv2.findContours produces
    before chain approximation (Suzuki-Abe semantics)."""
    h, w = mask.shape
    contour = [(sx, sy)]
    cx, cy, b = sx, sy, 0  # backtrack = W: raster order guarantees it is background
    seen = {(sx, sy, 0)}
    for _ in range(4 * h * w + 8):
        found = -1
        for k in range(1, 9):
            d = (b + k) % 8
            nx, ny = cx + _MOORE[d][0], cy + _MOORE[d][1]
            if 0 <= nx < w and 0 <= ny < h and mask[ny, nx]:
                found = d
                break
        if found < 0:
            break  # isolated pixel
        lb = (found - 1) % 8  # last background examined
        bx, by = cx + _MOORE[lb][0], cy + _MOORE[lb][1]
        cx, cy = cx + _MOORE[found][0], cy + _MOORE[found][1]
        b = _MOORE_IDX[(bx - cx, by - cy)]
        state = (cx, cy, b)
        if state in seen:
            break
        seen.add(state)
        contour.append((cx, cy))
    if len(contour) > 1 and contour[-1] == contour[0]:
        contour.pop()
    return contour


def _compress_collinear(pts: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """CHAIN_APPROX_SIMPLE: keep only endpoints of straight unit-step runs
    (horizontal, vertical, diagonal); the start point is always kept."""
    n = len(pts)
    if n <= 2:
        return pts
    keep = []
    for i in range(n):
        p_prev, p_cur, p_nxt = pts[i - 1], pts[i], pts[(i + 1) % n]
        d_in = (p_cur[0] - p_prev[0], p_cur[1] - p_prev[1])
        d_out = (p_nxt[0] - p_cur[0], p_nxt[1] - p_cur[1])
        if i == 0 or d_in != d_out:
            keep.append(p_cur)
    return keep


def find_outer_contours(mask: np.ndarray) -> list[np.ndarray]:
    """Outer contour of every 8-connected component, cv2-style.

    Matches the observable cv2.findContours(RETR_TREE/EXTERNAL,
    CHAIN_APPROX_SIMPLE) contract the reference relies on
    (Equirec2Perspec.py:124-128): CCW point order starting at each
    component's topmost-leftmost pixel, collinear runs compressed to
    endpoints, and the contour list ordered with the LAST component found
    in raster-scan order first (cv2 4.x returns contours bottom-up, so
    ``contours[0]`` is the last-discovered outer border)."""
    h, w = mask.shape
    mask = mask.astype(bool, copy=False)
    labeled = np.zeros((h, w), dtype=bool)  # pixels already assigned a component
    contours: list[np.ndarray] = []
    ys, xs = np.nonzero(mask)
    for sy, sx in zip(ys.tolist(), xs.tolist()):  # raster order (row-major nonzero)
        if labeled[sy, sx]:
            continue
        # flood the whole component so later rows don't re-trigger it
        stack = [(sx, sy)]
        labeled[sy, sx] = True
        while stack:
            px, py = stack.pop()
            for dx, dy in _MOORE:
                qx, qy = px + dx, py + dy
                if 0 <= qx < w and 0 <= qy < h and mask[qy, qx] and not labeled[qy, qx]:
                    labeled[qy, qx] = True
                    stack.append((qx, qy))
        ring = _compress_collinear(_trace_outer_border(mask, sx, sy))
        contours.append(np.asarray(ring, dtype=np.int64).reshape(-1, 2))
    contours.reverse()  # cv2 4.x ordering: last-discovered first
    return contours


def rle_to_polygon(rle_counts, size: tuple[int, int]) -> np.ndarray | None:
    """COCO-RLE mask → outer contour ring (M, 2) int64, or None.

    Re-implements the reference's mask→polygon step
    (Equirec2Perspec.py:122-128: pycocotools mask.decode +
    cv2.findContours(RETR_TREE, CHAIN_APPROX_SIMPLE) → contours[0],
    rejected when under 3 points) without either dependency: charcode RLE
    decode above, Moore-neighbor border following for the contour.
    """
    mask = rle_decode_mask(rle_counts, size)
    contours = find_outer_contours(mask)
    if not contours or len(contours[0]) < 3:
        return None
    return contours[0]


# --------------------------------------------------------------------------
# Forward projection sampling grid (U2) — GetPerspective's math
# --------------------------------------------------------------------------


def perspective_grid(
    fov: float, theta: float, phi: float, height: int, width: int,
    pano_height: int, pano_width: int
) -> np.ndarray:
    """(height, width, 2) map of panorama source coords per crop pixel.

    The meshgrid→K^-1→R→lonlat→XY pipeline of GetPerspective
    (Equirec2Perspec.py:74-87), which is the entire projective content of
    the operator; resampling happens in ``sample_bicubic_wrap``.
    """
    _, k_inv = compute_calib_matrix(width, height, fov)
    r = compute_rotation_matrix(theta, phi)
    x, y = np.meshgrid(np.arange(width), np.arange(height))
    xyz = np.stack([x, y, np.ones_like(x)], axis=-1).astype(np.float64)
    transformed = transform_coords(xyz, k_inv, r)
    return lonlat2xy(xyz2lonlat(transformed), pano_height, pano_width)


def sample_bilinear_wrap(img: np.ndarray, xy: np.ndarray) -> np.ndarray:
    """Sample img at float coords with horizontal wrap (seam continuity).

    Replaces cv2.remap(..., INTER_CUBIC, BORDER_WRAP)
    (Equirec2Perspec.py:89) with bilinear interpolation — same wrap
    semantics, softer kernel; documented deviation (cv2 absent).
    """
    h, w = img.shape[:2]
    xs, ys = xy[..., 0], xy[..., 1]
    x0 = np.floor(xs).astype(np.int64)
    y0 = np.floor(ys).astype(np.int64)
    fx, fy = xs - x0, ys - y0
    x0m, x1m = x0 % w, (x0 + 1) % w
    y0m = np.clip(y0, 0, h - 1)
    y1m = np.clip(y0 + 1, 0, h - 1)
    tl = img[y0m, x0m].astype(np.float64)
    tr = img[y0m, x1m].astype(np.float64)
    bl = img[y1m, x0m].astype(np.float64)
    br = img[y1m, x1m].astype(np.float64)
    fx = fx[..., None] if img.ndim == 3 else fx
    fy = fy[..., None] if img.ndim == 3 else fy
    top = tl * (1 - fx) + tr * fx
    bot = bl * (1 - fx) + br * fx
    return (top * (1 - fy) + bot * fy).astype(img.dtype)


def _cubic_weights(f: np.ndarray, a: float = -0.75) -> np.ndarray:
    """Keys cubic-convolution weights for taps at offsets (-1, 0, 1, 2)
    around the floor pixel, fractional offset f in [0, 1). a = -0.75 is
    cv2's INTER_CUBIC coefficient (Catmull-Rom would be -0.5)."""
    d0, d1, d2, d3 = 1.0 + f, f, 1.0 - f, 2.0 - f
    w0 = a * d0**3 - 5 * a * d0**2 + 8 * a * d0 - 4 * a
    w1 = (a + 2) * d1**3 - (a + 3) * d1**2 + 1
    w2 = (a + 2) * d2**3 - (a + 3) * d2**2 + 1
    w3 = a * d3**3 - 5 * a * d3**2 + 8 * a * d3 - 4 * a
    return np.stack([w0, w1, w2, w3])


def sample_bicubic_wrap(img: np.ndarray, xy: np.ndarray, a: float = -0.75) -> np.ndarray:
    """Bicubic resampling with wraparound — cv2.remap(INTER_CUBIC,
    BORDER_WRAP) semantics (Equirec2Perspec.py:89).

    Separable 4×4 Keys kernel with cv2's a = -0.75; BORDER_WRAP wraps tap
    indices on BOTH axes, as cv2 does (out-of-range taps only occur at the
    poles for equirect grids, where the reference wraps too). Float
    accumulation with round-half-even and saturation for integer dtypes —
    cv2's fixed-point tables agree to within 1 LSB; values here are the
    exact-arithmetic ones.
    """
    h, w = img.shape[:2]
    xs, ys = xy[..., 0], xy[..., 1]
    x0 = np.floor(xs).astype(np.int64)
    y0 = np.floor(ys).astype(np.int64)
    wx = _cubic_weights(xs - x0, a)
    wy = _cubic_weights(ys - y0, a)
    acc = None
    for j in range(4):
        yj = (y0 + (j - 1)) % h
        row = None
        for i in range(4):
            xi = (x0 + (i - 1)) % w
            pix = img[yj, xi].astype(np.float64)
            wgt = wx[i][..., None] if img.ndim == 3 else wx[i]
            row = pix * wgt if row is None else row + pix * wgt
        wgt_y = wy[j][..., None] if img.ndim == 3 else wy[j]
        acc = row * wgt_y if acc is None else acc + row * wgt_y
    if np.issubdtype(img.dtype, np.integer):
        info = np.iinfo(img.dtype)
        acc = np.clip(np.rint(acc), info.min, info.max)
    return acc.astype(img.dtype)


# --------------------------------------------------------------------------
# Pixel → 3D ray (U1) — point_to_3d_line, vectorized
# --------------------------------------------------------------------------


def orientation_rotation_matrix(
    roll_rad: float, pitch_rad: float, heading_rad: float
) -> np.ndarray:
    """R = Rz(heading) · Ry(pitch) · Rx(roll) with the reference's exact
    element layout (street_level_grouping.py:272-288)."""
    cr, sr = np.cos(roll_rad), np.sin(roll_rad)
    cp, sp = np.cos(pitch_rad), np.sin(pitch_rad)
    ch, sh = np.cos(heading_rad), np.sin(heading_rad)
    rx = np.array([[1, 0, 0], [0, cr, -sr], [0, sr, cr]])
    ry = np.array([[cp, 0, sp], [0, 1, 0], [-sp, 0, cp]])
    rz = np.array([[ch, sh, 0], [-sh, ch, 0], [0, 0, 1]])
    return rz @ ry @ rx


def pixels_to_rays(
    px: np.ndarray,
    py: np.ndarray,
    roll_rad: float,
    pitch_rad: float,
    heading_rad: float,
    origin: np.ndarray,
    image_width: int,
    image_height: int,
    length: float = 1.0,
) -> np.ndarray:
    """(N,) pixel coords → (N, 3) ray endpoints from the camera origin.

    Vectorized point_to_3d_line (street_level_grouping.py:257-299):
    equirect pixel → spherical angles → unit sphere point → pose rotation →
    translate to origin. Batch replaces the reference's per-point calls.
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    theta = 2 * np.pi * (image_width - px) / image_width
    phi = np.pi * py / image_height
    xc = np.sin(phi) * np.cos(theta)
    yc = np.sin(phi) * np.sin(theta)
    zc = np.cos(phi)
    r = orientation_rotation_matrix(roll_rad, pitch_rad, heading_rad)
    # Explicit per-component multiply-add, NOT `xyz @ r.T`: numpy routes
    # large batches through BLAS dgemm whose FMA/summation order differs
    # from the small-N path by an ulp — results must not depend on Arrow
    # batch size (cross-engine hash checks and re-runs would diverge).
    out = np.stack(
        [
            r[0, 0] * xc + r[0, 1] * yc + r[0, 2] * zc,
            r[1, 0] * xc + r[1, 1] * yc + r[1, 2] * zc,
            r[2, 0] * xc + r[2, 1] * yc + r[2, 2] * zc,
        ],
        axis=-1,
    )
    if length != 1.0:
        out = out * length
    return out + np.asarray(origin, dtype=np.float64)


# --------------------------------------------------------------------------
# Seam-aware bboxes and IoU (P11, J4) — BBox semantics, vectorized
# --------------------------------------------------------------------------


def normalize_seam_bboxes(
    bboxes: np.ndarray, image_width: int = 8000
) -> np.ndarray:
    """Reorder seam-crossing bboxes: when the raw span exceeds 95% of the
    image width the box is interpreted as wrapping, and (x_max, y_min,
    x_min, y_max) is the true reading (bbox.py:15-20)."""
    b = np.asarray(bboxes, dtype=np.float64).reshape(-1, 4).copy()
    span = b[:, 2] - b[:, 0]
    crossing = span > image_width * 0.95
    swapped = b[crossing][:, [2, 1, 0, 3]]
    b[crossing] = swapped
    return b


def bbox_theta(b: np.ndarray, image_width: int) -> tuple[np.ndarray, np.ndarray]:
    """Cylindrical angles of x extents (bbox.py:24-28)."""
    return b[:, 0] / image_width * 360.0, b[:, 2] / image_width * 360.0


def bbox_area(b: np.ndarray, image_width: int) -> np.ndarray:
    """width (modular) × height (bbox.py:30-41)."""
    width = np.mod(b[:, 2] - b[:, 0], image_width)
    return width * (b[:, 3] - b[:, 1])


def _interval_overlap(min1, max1, min2, max2):
    return np.maximum(0.0, np.minimum(max1, max2) - np.maximum(min1, min2))


def theta_overlap(tmin1, tmax1, tmin2, tmax2):
    """360°-wraparound angular overlap (bbox.py:71-96), vectorized.

    Seam-crossing intervals (max < min after mod-360 normalize) get +360 on
    their max; the result is clipped to 360.
    """
    tmin1, tmax1 = np.mod(tmin1, 360.0), np.mod(tmax1, 360.0)
    tmin2, tmax2 = np.mod(tmin2, 360.0), np.mod(tmax2, 360.0)
    cross1 = tmax1 < tmin1
    cross2 = tmax2 < tmin2
    adj_max1 = np.where(cross1, tmax1 + 360.0, tmax1)
    adj_max2 = np.where(cross2, tmax2 + 360.0, tmax2)
    plain = _interval_overlap(tmin1, tmax1, tmin2, tmax2)
    adjusted = np.minimum(_interval_overlap(tmin1, adj_max1, tmin2, adj_max2), 360.0)
    return np.where(cross1 | cross2, adjusted, plain)


def bbox_iou_matrix(bboxes: np.ndarray, image_width: int = 8000) -> np.ndarray:
    """Pairwise IoU (N,N) with the reference's exact semantics
    (bbox.py:98-109) — including its mixed units: the intersection is
    theta-degrees × y-pixels while areas are x-pixels × y-pixels. That is
    what the reference computes, so parity requires replicating it; the
    0.01 grouping threshold was tuned against these units.
    """
    b = np.asarray(bboxes, dtype=np.float64).reshape(-1, 4)
    tmin, tmax = bbox_theta(b, image_width)
    area = bbox_area(b, image_width)
    t_ov = theta_overlap(
        tmin[:, None], tmax[:, None], tmin[None, :], tmax[None, :]
    )
    y_ov = _interval_overlap(
        b[:, None, 1], b[:, None, 3], b[None, :, 1], b[None, :, 3]
    )
    inter = t_ov * y_ov
    union = area[:, None] + area[None, :] - inter
    with np.errstate(divide="ignore", invalid="ignore"):
        iou = np.where(union == 0, 0.0, inter / union)
    return iou


def group_bboxes_greedy(iou: np.ndarray, threshold: float) -> np.ndarray:
    """Greedy clustering over a pairwise IoU matrix → group index per bbox.

    Exact port of the reference's algorithm (bbox_grouping.py:25-52):
    1) boxes with zero similarity to every other box become singleton
       groups first; 2) remaining boxes are grouped in index order, a box
    joining the current group if any current member's IoU ≥ threshold.
    Input order defines the result — callers must pre-sort rows by a stable
    key (SURVEY.md §7.2 determinism note).
    """
    n = iou.shape[0]
    sim = iou.copy()
    np.fill_diagonal(sim, 0.0)
    grouped = np.zeros(n, dtype=bool)
    groups: list[list[int]] = []
    for i in range(n):
        if not np.any(sim[i] > 0):
            groups.append([i])
            grouped[i] = True
    for i in range(n):
        if grouped[i]:
            continue
        current = [i]
        grouped[i] = True
        for j in range(n):
            if not grouped[j] and np.any(sim[current, j] >= threshold):
                current.append(j)
                grouped[j] = True
        groups.append(current)
    out = np.empty(n, dtype=np.int64)
    for gidx, members in enumerate(groups):
        out[members] = gidx
    return out


# --------------------------------------------------------------------------
# Ray ↔ mesh intersection (U6) — replaces pyvista.multi_ray_trace
# --------------------------------------------------------------------------


TILE_SIZE = 32  # most triangles in one tile of the mesh index
# Tile boxes grow by this fraction of the largest |coordinate| in play (mesh
# or ray origin) — far more than the rounding of the slab test and of the
# (u, v) acceptance, so no hit the per-pair arithmetic accepts is culled.
_BOX_PAD = 1e-8
# Most (ray × tile) cells one slab test holds: sets the ray chunk size.
_MASK_CELLS = 1 << 16
_EPS = 1e-12


class TileIndex(NamedTuple):
    """A triangle mesh kd-ordered into tiles of at most TILE_SIZE triangles.

    Tile k holds triangles ``starts[k]:starts[k + 1]`` of ``v0``/``e1``/
    ``e2`` (first vertex and the edges v1 − v0, v2 − v0, in tile order)
    inside the unpadded axis-aligned box ``lo[k]..hi[k]``; ``scale`` is the
    largest finite |coordinate| of the mesh."""

    v0: np.ndarray
    e1: np.ndarray
    e2: np.ndarray
    starts: np.ndarray
    lo: np.ndarray
    hi: np.ndarray
    scale: float


def build_tile_index(triangles: np.ndarray) -> TileIndex:
    """(M, 3, 3) triangles → TileIndex: recursive median split of the
    centroids on the axis of largest extent, down to TILE_SIZE per tile.
    Small enough to broadcast in place of the raw triangle array."""
    tri = np.asarray(triangles, dtype=np.float64).reshape(-1, 3, 3)
    centroids = tri.mean(axis=1)
    tiles = []
    todo = [np.arange(len(tri))] if len(tri) else []
    while todo:
        idx = todo.pop()
        if len(idx) <= TILE_SIZE:
            tiles.append(idx)
            continue
        c = centroids[idx]
        axis = np.argmax(c.max(axis=0) - c.min(axis=0))
        half = len(idx) // 2
        split = np.argpartition(c[:, axis], half)
        todo += [idx[split[half:]], idx[split[:half]]]
    tri = tri[np.concatenate([np.zeros(0, dtype=np.intp), *tiles])]
    starts = np.cumsum([0] + [len(t) for t in tiles])
    v0, v1, v2 = tri[:, 0], tri[:, 1], tri[:, 2]
    # fmin/fmax: a NaN vertex (never a hit) must not void its tile's box
    lo = np.fmin.reduceat(np.fmin.reduce(tri, axis=1), starts[:-1])
    hi = np.fmax.reduceat(np.fmax.reduce(tri, axis=1), starts[:-1])
    finite = np.abs(tri[np.isfinite(tri)])
    return TileIndex(
        v0=v0,
        e1=v1 - v0,
        e2=v2 - v0,
        starts=starts,
        lo=lo,
        hi=hi,
        scale=float(finite.max(initial=0.0)),
    )


def _first_hit_t(index: TileIndex, origin: np.ndarray, d: np.ndarray) -> np.ndarray:
    """(R,) smallest accepted Möller–Trumbore t of the rays origin + t·d[r]
    (inf = miss), evaluating only the triangles of tiles each ray's slab
    test admits."""
    best = np.full(len(d), np.inf)
    n_tiles = len(index.lo)
    if n_tiles == 0:
        return best
    # The (origin, triangle) terms: computed once, bit-equal to per pair.
    s = origin - index.v0
    q = np.cross(s, index.e1)
    e2q = np.einsum("mk,mk->m", index.e2, q)
    pad = _BOX_PAD * (1.0 + max(index.scale, float(np.abs(origin).max())))
    lo = index.lo - pad - origin
    hi = index.hi + pad - origin
    sizes = np.diff(index.starts)
    chunk = max(1, _MASK_CELLS // n_tiles)
    for a in range(0, len(d), chunk):
        dc = d[a : a + chunk]
        with np.errstate(divide="ignore", invalid="ignore"):
            t1 = lo / dc[:, None, :]  # (r, K, 3); ±inf where d is 0
            t2 = hi / dc[:, None, :]
        # 0/0 = NaN rejects the tile: that ray runs in a face plane of the
        # padded box, so it passes no closer than the pad to the tile
        near = np.minimum(t1, t2).max(axis=2)
        far = np.maximum(t1, t2).min(axis=2)
        rr, kk = np.nonzero(far >= np.maximum(near, 0.0))
        counts = sizes[kk]
        ray = np.repeat(rr, counts)
        tri = np.arange(counts.sum()) + np.repeat(
            index.starts[kk] - (np.cumsum(counts) - counts), counts
        )
        dd = dc[ray]
        p = np.cross(dd, index.e2[tri])
        det = np.einsum("pk,pk->p", index.e1[tri], p)
        with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
            inv_det = np.where(np.abs(det) > _EPS, 1.0 / det, np.nan)
            u = np.einsum("pk,pk->p", s[tri], p) * inv_det
            v = np.einsum("pk,pk->p", dd, q[tri]) * inv_det
            t = e2q[tri] * inv_det
        hit = (u >= 0) & (v >= 0) & (u + v <= 1) & (t > _EPS) & np.isfinite(t)
        np.minimum.at(best, a + ray[hit], t[hit])
    return best


def first_hits(
    index: TileIndex, origins: np.ndarray, directions: np.ndarray
) -> np.ndarray:
    """First-hit points of N rays on an indexed mesh: (N,3) origins, (N,3)
    directions → (N,3) points, NaN rows for misses. One kernel pass per
    distinct origin (a panorama's rays share its camera)."""
    origins = np.asarray(origins, dtype=np.float64).reshape(-1, 3)
    directions = np.asarray(directions, dtype=np.float64).reshape(-1, 3)
    best = np.full(len(origins), np.inf)
    if len(origins):
        uniq, inv = np.unique(origins, axis=0, return_inverse=True)
        inv = inv.reshape(-1)
        order = np.argsort(inv, kind="stable")
        bounds = np.cumsum(np.bincount(inv, minlength=len(uniq)))[:-1]
        for o, rows in zip(uniq, np.split(order, bounds)):
            best[rows] = _first_hit_t(index, o, directions[rows])
    # each ray's own origin: a group's representative may differ in the
    # sign of a zero coordinate
    with np.errstate(invalid="ignore"):  # inf · 0 on misses, reset below
        pts = origins + best[:, None] * directions
    pts[~np.isfinite(best)] = np.nan
    return pts


def ray_triangle_intersections(
    origins: np.ndarray, directions: np.ndarray, triangles: np.ndarray
) -> np.ndarray:
    """First-hit points for N rays against M triangles (Möller–Trumbore).

    (N,3) origins, (N,3) directions, (M,3,3) triangles → (N,3) hit points
    with NaN rows for misses (every row for an empty mesh). Replaces the
    reference's mesh.multi_ray_trace(..., first_point=True)
    (street_level_grouping.py:216-218), whose BVH becomes a flat tile index
    (``build_tile_index``): per distinct origin, a slab test of its rays
    against the K ≈ M/TILE_SIZE padded tile boxes, then Möller–Trumbore
    only on the triangles of admitted tiles. The cull decides which pairs
    run, never their arithmetic: the result equals an uncut pass over all
    N·M pairs (tests/reference_oracle.py) bit for bit, except where a
    pair's |det| clears the 1e-12 threshold only by rounding (a ray grazing
    a triangle's plane, a sliver triangle) — there the uncut answer is
    itself rounding noise.
    """
    return first_hits(build_tile_index(triangles), origins, directions)


# --------------------------------------------------------------------------
# Wall extraction support (U7) — StandardScaler + DBSCAN without sklearn
# --------------------------------------------------------------------------


def standard_scale(x: np.ndarray) -> np.ndarray:
    """(x - mean) / std per column, population std (sklearn semantics)."""
    x = np.asarray(x, dtype=np.float64)
    mean = x.mean(axis=0)
    std = x.std(axis=0)
    std = np.where(std == 0, 1.0, std)
    return (x - mean) / std


def dbscan(x: np.ndarray, eps: float, min_samples: int) -> np.ndarray:
    """DBSCAN labels (noise = -1); sklearn-compatible for euclidean metric.

    Used per spatial tile inside applyInPandas (MeshWallExtractror.py:62-67
    ran sklearn on the whole mesh single-node).
    """
    x = np.asarray(x, dtype=np.float64)
    n = len(x)
    d2 = np.sum((x[:, None, :] - x[None, :, :]) ** 2, axis=-1)
    neighbors = d2 <= eps * eps
    counts = neighbors.sum(axis=1)
    core = counts >= min_samples
    labels = np.full(n, -1, dtype=np.int64)
    cluster = 0
    for i in range(n):
        if labels[i] != -1 or not core[i]:
            continue
        stack = [i]
        labels[i] = cluster
        while stack:
            j = stack.pop()
            if not core[j]:
                continue
            for k in np.nonzero(neighbors[j])[0]:
                if labels[k] == -1:
                    labels[k] = cluster
                    if core[k]:
                        stack.append(k)
        cluster += 1
    return labels


def face_azimuth(normals: np.ndarray) -> np.ndarray:
    """Wall azimuth from face normal: atan2(ny, nx) (MeshWallExtractror.py:29-32)."""
    n = np.asarray(normals, dtype=np.float64)
    return np.arctan2(n[:, 1], n[:, 0])
