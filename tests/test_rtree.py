"""STR-packed R-tree index (the one broadcast PIP polygon index):
structural invariants + exact equality with the brute-force ray cast."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from fairy_core_spark.functions.geometry import STRtree, point_in_ring


def _rect(pid: int, lat0: float, lat1: float, lon0: float, lon1: float):
    return (
        f"p{pid}",
        np.array(
            [[lat0, lon0], [lat0, lon1], [lat1, lon1], [lat1, lon0], [lat0, lon0]],
            dtype=np.float64,
        ),
    )


def _brute(polys: dict[str, np.ndarray], lat: np.ndarray, lon: np.ndarray):
    out = set()
    for pid, ring in polys.items():
        for i in np.nonzero(point_in_ring(lat, lon, ring))[0]:
            out.add((int(i), pid))
    return out


def _clustered_polys(n: int, seed: int = 3) -> dict[str, np.ndarray]:
    """Polygon pileup in one small region — the skewed case a uniform
    grid index handles badly and the R-tree's balanced packing does not."""
    rng = np.random.default_rng(seed)
    polys = {}
    for i in range(n):
        cy = 40.0 + rng.uniform(-2, 2)
        cx = -70.0 + rng.uniform(-2, 2)
        h, w = rng.uniform(0.05, 0.8, size=2)
        polys.update([_rect(i, cy - h, cy + h, cx - w, cx + w)])
    return polys


def test_tree_bboxes_contain_children():
    polys = _clustered_polys(137)
    t = STRtree(polys, fanout=4)
    # leaf entries: every packed leaf bbox is one polygon bbox
    packed = t.boxes[t.leaf_order]
    assert sorted(t.leaf_order.tolist()) == list(range(len(polys)))
    child = packed
    for nb, cs, ce in reversed(t.levels):  # bottom-up
        for i in range(len(nb)):
            seg = child[cs[i]:ce[i]]
            assert len(seg) > 0
            assert nb[i, 0] <= seg[:, 0].min() and nb[i, 1] >= seg[:, 1].max()
            assert nb[i, 2] <= seg[:, 2].min() and nb[i, 3] >= seg[:, 3].max()
        child = nb
    assert len(t.levels[0][0]) == 1  # single root


@pytest.mark.parametrize("n_polys", [1, 2, 17, 137, 600])
def test_rtree_equals_grid_and_bruteforce(n_polys):
    """R-tree pairs == brute-force ray cast, from one polygon (a root-only
    tree) up to 600 (a three-level tree). The test id still names the
    bbox grid index that this test once also compared."""
    polys = _clustered_polys(n_polys)
    rng = np.random.default_rng(11)
    lat = 40.0 + rng.uniform(-3, 3, size=2000)
    lon = -70.0 + rng.uniform(-3, 3, size=2000)
    want = _brute(polys, lat, lon)
    assert set(STRtree(polys).contains_batch(lat, lon)) == want
    assert len(want) > 0


def test_rtree_empty_and_miss():
    polys = dict([_rect(0, 10, 11, 10, 11)])
    t = STRtree(polys)
    assert t.contains_batch(np.array([]), np.array([])) == []
    assert t.contains_batch(np.array([50.0]), np.array([50.0])) == []
    assert t.contains_batch(np.array([10.5]), np.array([10.5])) == [(0, "p0")]


@settings(max_examples=40, deadline=None)
@given(
    rects=st.lists(
        st.tuples(
            st.floats(-60, 60), st.floats(0.01, 20),
            st.floats(-170, 160), st.floats(0.01, 20),
        ),
        min_size=1,
        max_size=40,
    ),
    pts=st.lists(
        st.tuples(st.floats(-80, 80), st.floats(-180, 180)), min_size=1, max_size=60
    ),
    fanout=st.sampled_from([2, 4, 16]),
)
def test_rtree_property_matches_bruteforce(rects, pts, fanout):
    polys = dict(
        _rect(i, la, la + dla, lo, lo + dlo) for i, (la, dla, lo, dlo) in enumerate(rects)
    )
    lat = np.array([p[0] for p in pts])
    lon = np.array([p[1] for p in pts])
    got = set(STRtree(polys, fanout=fanout).contains_batch(lat, lon))
    assert got == _brute(polys, lat, lon)
