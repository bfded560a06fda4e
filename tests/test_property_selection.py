"""Property tests for the DRIVER-SIDE math inside the selection
operators: the histogram rank walk shared by exact_quantiles_twopass and
percentile_cont_exact(_grouped) (``scale._walk_histogram``), and the
convex containment sign test of grid_containment_join. The Spark
plumbing is swept by fixed tests (test_scale.py, the J16/A28 oracles);
hypothesis drives the kernels over adversarial inputs — ties at bucket
boundaries, degenerate groups, points ON polygon edges."""

from __future__ import annotations

import math

from hypothesis import given, settings
from hypothesis import strategies as st

from hg_data_pipelines_spark.operators.scale import _walk_histogram

_QS = [0.01, 0.25, 0.5, 0.9, 0.99, 1.0]


def _log_bucket(x: float) -> int:
    """Python twin of ``scale._log_bucket`` (sign-split log2 ladder)."""
    if x == 0:
        return 0
    s = math.floor(math.log2(abs(x)) * 1024)
    return 2_200_000 + s if x > 0 else -2_200_000 - s


# monotone bucketings: the walk must be exact under ANY of them
_BUCKETINGS = st.one_of(
    st.just(_log_bucket),
    st.just(lambda x: 0),  # one bucket: every rank inside it
    st.just(lambda x: x),  # one bucket per distinct value
    st.floats(min_value=0.25, max_value=1e5).map(
        lambda w: lambda x: math.floor(x / w)
    ),
)


def _walk_select(xs: list[float], ks: list[int], bucket) -> dict:
    """Run the operator's walk over ``xs`` bucketed by ``bucket``, then
    settle each unresolved (g, b, k, off) the way the Spark pick does:
    the off-th smallest value of bucket b."""
    hist: dict = {}
    for x in xs:
        b = bucket(x)
        c, lo, hi = hist.get(b, (0, x, x))
        hist[b] = (c + 1, min(lo, x), max(hi, x))
    tuples = [(b, c, lo, hi) for b, (c, lo, hi) in hist.items()]
    vals, unresolved = _walk_histogram({"g": tuples}, {"g": ks})
    for g, b, k, off in unresolved:
        assert 1 < off < hist[b][0]  # edges resolve from min/max
        vals[g][k] = sorted(x for x in xs if bucket(x) == b)[off - 1]
    return vals["g"]


class TestTwopassQuantileWalk:
    @settings(max_examples=300, deadline=None)
    @given(
        xs=st.one_of(
            st.lists(
                st.floats(min_value=-1e6, max_value=1e6,
                          allow_nan=False, allow_infinity=False),
                min_size=1, max_size=80,
            ),
            # tie-heavy: few distinct values, many at bucket boundaries
            st.lists(st.integers(-4, 4).map(float), min_size=1, max_size=80),
        ),
        qs=st.lists(st.sampled_from(_QS), min_size=1, max_size=4),
        bucket=_BUCKETINGS,
    )
    def test_walk_equals_sorted_rank(self, xs, qs, bucket):
        n = len(xs)
        ks = [max(1, min(int(math.ceil(q * n)), n)) for q in qs]
        got = _walk_select(xs, ks, bucket)
        for k in ks:
            assert got[k] == sorted(xs)[k - 1]

    @settings(max_examples=100, deadline=None)
    @given(
        v=st.floats(min_value=-10, max_value=10,
                    allow_nan=False, allow_infinity=False),
        n=st.integers(min_value=1, max_value=50),
        q=st.sampled_from([0.5, 0.99]),
        bucket=_BUCKETINGS,
    )
    def test_degenerate_all_equal(self, v, n, q, bucket):
        k = max(1, min(int(math.ceil(q * n)), n))
        assert _walk_select([v] * n, [k], bucket) == {k: v}


def _inside_convex(xs, ys, px, py):
    """Mirror of the operator's all-edges CCW sign test."""
    m = len(xs)
    return all(
        (xs[(k + 1) % m] - xs[k]) * (py - ys[k])
        - (ys[(k + 1) % m] - ys[k]) * (px - xs[k]) >= 0
        for k in range(m)
    )


class TestConvexContainment:
    @settings(max_examples=200, deadline=None)
    @given(
        cx=st.floats(-5, 5), cy=st.floats(-5, 5),
        r=st.floats(0.1, 3),
        t=st.floats(0, 2 * math.pi),
        rho=st.floats(0, 2),
    )
    def test_interior_and_exterior_of_regular_pentagon(
        self, cx, cy, r, t, rho
    ):
        xs = [cx + r * math.cos(math.radians(90 + 72 * k)) for k in range(5)]
        ys = [cy + r * math.sin(math.radians(90 + 72 * k)) for k in range(5)]
        apothem = r * math.cos(math.pi / 5)
        px = cx + rho * r * math.cos(t)
        py = cy + rho * r * math.sin(t)
        d = math.hypot(px - cx, py - cy)
        if d < apothem * 0.999:  # strictly inside the inscribed circle
            assert _inside_convex(xs, ys, px, py)
        elif d > r * 1.001:  # strictly outside the circumscribed circle
            assert not _inside_convex(xs, ys, px, py)
        # annulus between the circles: either answer is geometrically valid

    def test_boundary_inclusive_where_arithmetic_is_exact(self):
        # An axis-aligned unit square: vertices, edge midpoints, and the
        # center all evaluate their cross products EXACTLY (0 or ±1
        # halves), so >= 0 must classify every boundary point as inside.
        # (On a rotated polygon an FP midpoint is epsilon-off the edge —
        # the contract is exact-inequality inclusivity, not geometric.)
        xs, ys = [0.0, 1.0, 1.0, 0.0], [0.0, 0.0, 1.0, 1.0]
        for px, py in [(0, 0), (1, 0), (1, 1), (0, 1),
                       (0.5, 0), (1, 0.5), (0.5, 1), (0, 0.5), (0.5, 0.5)]:
            assert _inside_convex(xs, ys, px, py)
        for px, py in [(-0.1, 0.5), (1.1, 0.5), (0.5, -0.1), (0.5, 1.1)]:
            assert not _inside_convex(xs, ys, px, py)
