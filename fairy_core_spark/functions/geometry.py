"""Planar/spherical geometry kernels, pure numpy (north-rule ops).

- ray-casting point-in-polygon (even-odd rule) over lat/lon rings;
- an STR-packed R-tree over polygon bboxes (``STRtree``), the one polygon
  index: it serializes to plain numpy arrays — cheap to broadcast to every
  executor — and is queried vectorized;
- haversine distance.

Conventions: polygons are closed rings [(lat, lon), ...] (first==last
optional — handled), tested in lon/lat plane coordinates (fixture polygons
are small and away from the antimeridian; the cell-join path handles the
sphere via S2 covering, the exact test stays planar as the reference
row-set definition).
"""

from __future__ import annotations

import numpy as np

EARTH_RADIUS_M = 6371000.0


def haversine_m(lat1, lon1, lat2, lon2):
    """Great-circle distance in meters (vectorized)."""
    a1, o1, a2, o2 = (np.radians(np.asarray(x, dtype=np.float64)) for x in (lat1, lon1, lat2, lon2))
    h = np.sin((a2 - a1) / 2) ** 2 + np.cos(a1) * np.cos(a2) * np.sin((o2 - o1) / 2) ** 2
    return 2 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.clip(h, 0, 1)))


def point_in_ring(lat: np.ndarray, lon: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd ray cast: vectorized over n points against one ring
    ((m,2) array of lat,lon). Boundary points follow the half-open edge
    rule (deterministic, matches the frozen brute-force oracle)."""
    rl = ring[:, 0]
    rg = ring[:, 1]
    if rl[0] == rl[-1] and rg[0] == rg[-1]:
        rl, rg = rl[:-1], rg[:-1]
    m = len(rl)
    inside = np.zeros(len(lat), dtype=bool)
    x, y = np.asarray(lon, dtype=np.float64), np.asarray(lat, dtype=np.float64)
    for i in range(m):  # loop over ring vertices (small), vectorized over points
        j = (i - 1) % m
        yi, xi = rl[i], rg[i]
        yj, xj = rl[j], rg[j]
        crosses = ((yi > y) != (yj > y)) & (
            x < (xj - xi) * (y - yi) / (yj - yi + np.where(yj == yi, 1e-300, 0.0)) + xi
        )
        inside ^= crosses
    return inside


class STRtree:
    """STR-packed (Sort-Tile-Recursive) R-tree over polygon bounding boxes
    — the north rule's "broadcast R-tree polygon index" taken literally.

    Bulk load: leaf entries (polygon bboxes) are sorted by lon-center,
    sliced into ceil(sqrt(n/B)) vertical strips, each strip sorted by
    lat-center, then packed into nodes of fanout ``B`` — the classic STR
    recipe (Leutenegger et al., ICDE 1997), repeated upward to the root.

    Layout: one flat numpy array set per level (node bboxes + child
    ranges), no Python objects in the tree — the whole index serializes
    as a handful of contiguous arrays inside the Arrow-UDF closure, so
    Spark ships it once per executor like any broadcast.

    Query is frontier-vectorized: a (point, node) frontier descends one
    level per step via ``np.repeat`` over child counts; no per-point
    Python loop. The tree stays balanced by construction, so clustered
    polygon sets (coastal pileups, admin boundaries crowding into
    cities) cost no more per candidate than uniform ones.
    """

    def __init__(self, polygons: dict[str, np.ndarray], fanout: int = 16):
        self.ids = list(polygons.keys())
        self.rings = [np.asarray(polygons[p], dtype=np.float64) for p in self.ids]
        # (n, 4) [lat_min, lat_max, lon_min, lon_max]; the reshape keeps
        # shape (0, 4) when n == 0 (np.array([]) is 1-D)
        boxes = np.array(
            [[r[:, 0].min(), r[:, 0].max(), r[:, 1].min(), r[:, 1].max()] for r in self.rings],
            dtype=np.float64,
        ).reshape(-1, 4)
        self.boxes = boxes
        self.fanout = int(fanout)
        # leaf_order[i] = polygon index of the i-th packed leaf entry
        order = self._str_order(boxes)
        self.leaf_order = order
        # levels[0] = leaves' parents ... levels[-1] = root. Each level is
        # (bbox: (k,4), child_start: (k,), child_end: (k,)) into the level
        # below (level -1 below levels[0] = the packed leaf entries).
        self.levels: list[tuple[np.ndarray, np.ndarray, np.ndarray]] = []
        cur = boxes[order]
        while len(cur) > 1:
            k = int(np.ceil(len(cur) / self.fanout))
            starts = np.arange(k) * self.fanout
            ends = np.minimum(starts + self.fanout, len(cur))
            nb = np.empty((k, 4))
            for i in range(k):  # k shrinks by fanout× per level; tiny
                seg = cur[starts[i]:ends[i]]
                nb[i] = (seg[:, 0].min(), seg[:, 1].max(), seg[:, 2].min(), seg[:, 3].max())
            self.levels.append((nb, starts, ends))
            cur = nb
        # levels is bottom-up; queries walk top-down
        self.levels.reverse()

    def _str_order(self, boxes: np.ndarray) -> np.ndarray:
        n = len(boxes)
        if n == 0:
            return np.empty(0, dtype=np.int64)
        cx = (boxes[:, 2] + boxes[:, 3]) / 2  # lon center
        cy = (boxes[:, 0] + boxes[:, 1]) / 2  # lat center
        n_strips = int(np.ceil(np.sqrt(np.ceil(n / self.fanout))))
        per_strip = int(np.ceil(n / n_strips))
        by_x = np.argsort(cx, kind="stable")
        out = []
        for s in range(0, n, per_strip):
            strip = by_x[s:s + per_strip]
            out.append(strip[np.argsort(cy[strip], kind="stable")])
        return np.concatenate(out)

    def query_batch(self, lat: np.ndarray, lon: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(point_index, polygon_index) int arrays: the candidate pairs
        whose polygon bbox contains the point; exact PIP refine is the
        caller's job."""
        lat = np.asarray(lat, dtype=np.float64)
        lon = np.asarray(lon, dtype=np.float64)
        none = np.empty(0, dtype=np.int64)
        if len(lat) == 0 or len(self.boxes) == 0:
            return none, none
        # frontier: every point starts at the root (node 0 of levels[0]);
        # a single polygon has no levels — its root IS the one leaf entry
        pts = np.arange(len(lat))
        nodes = np.zeros(len(lat), dtype=np.int64)
        for nb, cs, ce in self.levels:
            hit = (
                (lat[pts] >= nb[nodes, 0]) & (lat[pts] <= nb[nodes, 1])
                & (lon[pts] >= nb[nodes, 2]) & (lon[pts] <= nb[nodes, 3])
            )
            pts, nodes = pts[hit], nodes[hit]
            if len(pts) == 0:
                return none, none
            counts = ce[nodes] - cs[nodes]
            starts = cs[nodes]
            pts = np.repeat(pts, counts)
            # children are contiguous [start, end): start + local offset,
            # offsets built without a Python loop
            total = int(counts.sum())
            offs = np.arange(total) - np.repeat(np.cumsum(counts) - counts, counts)
            nodes = np.repeat(starts, counts) + offs
        # nodes now index packed LEAF entries; test the entry bboxes
        poly = self.leaf_order[nodes]
        b = self.boxes[poly]
        hit = (lat[pts] >= b[:, 0]) & (lat[pts] <= b[:, 1]) & (lon[pts] >= b[:, 2]) & (lon[pts] <= b[:, 3])
        return pts[hit], poly[hit]

    def contains_batch(self, lat: np.ndarray, lon: np.ndarray) -> list[tuple[int, str]]:
        """(point_index, polygon_id) exact containment pairs: R-tree
        candidates, then the ray cast grouped per polygon. Polygons are
        visited in ascending index order, so each point's pairs come out
        in polygon-index order."""
        lat = np.asarray(lat, dtype=np.float64)
        lon = np.asarray(lon, dtype=np.float64)
        ci, cp = self.query_batch(lat, lon)
        out: list[tuple[int, str]] = []
        for pi in np.unique(cp):
            idx = ci[cp == pi]
            hit = point_in_ring(lat[idx], lon[idx], self.rings[pi])
            out.extend((t, self.ids[pi]) for t in idx[hit].tolist())
        return out


def polygon_covering_cells(ring: np.ndarray, level: int) -> np.ndarray:
    """S2 cells (at ``level``) overlapping a polygon's bbox: sample the
    bbox densely relative to the min cell width, map samples to cells, pad
    with all 8-neighbors (superset guarantee for the equi-join + refine
    spatial join; exactness comes from the refine step)."""
    from fairy_core_spark.spatial import s2

    lat_min, lat_max = ring[:, 0].min(), ring[:, 0].max()
    lon_min, lon_max = ring[:, 1].min(), ring[:, 1].max()
    step_deg = np.degrees(s2.min_width_rad(level)) / 2.0
    lats = np.arange(lat_min, lat_max + step_deg, step_deg)
    lons = np.arange(lon_min, lon_max + step_deg, step_deg)
    # Chunk lat strips instead of one dense meshgrid: a continent-scale
    # bbox at a fine level is ~10^8 samples, and cell_id's intermediate
    # float64 arrays would multiply that into driver-OOM territory. Peak
    # memory is now bounded at ~CHUNK_SAMPLES regardless of bbox size;
    # output identical (unique of unions == unique of the whole).
    CHUNK_SAMPLES = 4_000_000
    rows_per_chunk = max(1, CHUNK_SAMPLES // max(1, len(lons)))
    lons_clipped = np.clip(lons, -180, 180)
    chunks = []
    for i in range(0, len(lats), rows_per_chunk):
        glat, glon = np.meshgrid(lats[i : i + rows_per_chunk], lons_clipped)
        chunks.append(np.unique(s2.cell_id(glat.ravel(), glon.ravel(), level)))
    cells = np.unique(np.concatenate(chunks)) if chunks else np.empty(0, np.int64)
    padded = np.unique(np.concatenate([cells, s2.neighbors(cells, level).ravel()]))
    return padded


def point_in_polygon_with_holes(
    lat: np.ndarray, lon: np.ndarray, rings: list[np.ndarray]
) -> np.ndarray:
    """Even-odd containment for a polygon WITH HOLES: XOR of the per-ring
    ray casts — a point inside the outer ring and inside a hole has even
    total crossings, so it is correctly outside (and an island ring
    inside a hole flips it back in: full even-odd multi-ring semantics,
    the GeoJSON polygon model). Rings in any order; each an (m,2)
    lat/lon array, closed or open."""
    out = np.zeros(len(np.asarray(lat)), dtype=bool)
    for ring in rings:
        out ^= point_in_ring(lat, lon, np.asarray(ring, dtype=np.float64))
    return out
