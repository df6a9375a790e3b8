"""Spatial operator goldens vs slow-but-obviously-correct numpy oracles
(SURVEY.md §5 item 3): PIP joins (broadcast and cell-join plans must match
the brute-force row set exactly), grid kNN vs O(n^2) haversine oracle,
tiling assignment consistency."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from fairy_core_spark.datagen.images import geo_df, polygons_pdf
from fairy_core_spark.functions.geometry import haversine_m, point_in_ring
from fairy_core_spark.spatial.ops import (
    knn_join,
    spatial_join_broadcast,
    spatial_join_cells,
    tile_assign,
    with_cell,
)

N_POINTS = 400


@pytest.fixture(scope="module")
def points_pdf():
    from fairy_core_spark.datagen.images import geo_for

    ids = [f"img{i:010d}" for i in range(N_POINTS)]
    lat, lon = zip(*(geo_for(x) for x in ids))
    return pd.DataFrame({"image_id": ids, "lat": lat, "lon": lon})


@pytest.fixture(scope="module")
def polys():
    return polygons_pdf(40)


def brute_force_pip(points: pd.DataFrame, polys: pd.DataFrame) -> set[tuple[str, str]]:
    out = set()
    lat = points["lat"].to_numpy()
    lon = points["lon"].to_numpy()
    ids = points["image_id"].to_numpy()
    for _, r in polys.iterrows():
        ring = np.array([[p["lat"], p["lon"]] for p in r["ring"]])
        hit = point_in_ring(lat, lon, ring)
        for i in np.nonzero(hit)[0]:
            out.add((ids[i], r["polygon_id"]))
    return out


def test_pip_broadcast_matches_bruteforce(spark, points_pdf, polys):
    points = spark.createDataFrame(points_pdf)
    got = {
        (r["image_id"], r["polygon_id"])
        for r in spatial_join_broadcast(points, polys).collect()
    }
    want = brute_force_pip(points_pdf, polys)
    assert got == want
    assert len(want) > 0  # fixture actually exercises containment


def test_pip_cell_join_matches_broadcast(spark, points_pdf, polys):
    points = spark.createDataFrame(points_pdf)
    got_cells = {
        (r["image_id"], r["polygon_id"])
        for r in spatial_join_cells(points, polys, level=8).collect()
    }
    want = brute_force_pip(points_pdf, polys)
    assert got_cells == want


def test_knn_matches_bruteforce(spark, points_pdf):
    k = 3
    queries = points_pdf.iloc[:25].rename(columns={"image_id": "query_id"})
    points = spark.createDataFrame(points_pdf.rename(columns={"image_id": "id"}))
    qdf = spark.createDataFrame(queries)
    got = knn_join(points, qdf, k=k, id_col="id", query_id_col="query_id")
    got_pairs = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in got.collect()}

    # oracle: O(n^2) haversine, ties by (dist, id)
    plat = points_pdf["lat"].to_numpy()
    plon = points_pdf["lon"].to_numpy()
    pids = points_pdf["image_id"].to_numpy()
    for _, q in queries.iterrows():
        d = haversine_m(q["lat"], q["lon"], plat, plon)
        order = sorted(zip(d, pids), key=lambda t: (t[0], t[1]))
        want = [pid for _, pid in order[:k]]
        for rank in range(1, k + 1):
            assert got_pairs[(q["query_id"], rank)] == want[rank - 1], q["query_id"]


def test_tiling_assignment(spark):
    from fairy_core_spark.datagen.images import images_df

    images = images_df(spark, 300, partitions=4)
    geo = geo_df(spark, 300, partitions=4)
    tiled = tile_assign(images, geo, level=12)
    rows = tiled.select("image_id", "tile_id", "lat", "lon").collect()
    assert len(rows) == 300
    # every tile_id equals the direct encode of that row's lat/lon
    from fairy_core_spark.spatial import s2

    lat = np.array([r["lat"] for r in rows])
    lon = np.array([r["lon"] for r in rows])
    want = s2.cell_id(lat, lon, 12)
    got = np.array([r["tile_id"] for r in rows])
    assert (got == want).all()


def test_with_cell_udf_matches_numpy(spark, points_pdf):
    points = spark.createDataFrame(points_pdf)
    rows = with_cell(points, level=12).collect()
    from fairy_core_spark.spatial import s2

    lat = np.array([r["lat"] for r in rows])
    lon = np.array([r["lon"] for r in rows])
    assert (np.array([r["cell"] for r in rows]) == s2.cell_id(lat, lon, 12)).all()


def test_pip_annotate_matches_join(spark, points_pdf, polys):
    """spatial_annotate_broadcast (row-preserving array form) must produce
    the same containment pair set as spatial_join_broadcast when exploded,
    keep every input row exactly once, and emit [] on uncontained rows."""
    from pyspark.sql import functions as F

    from fairy_core_spark.spatial.ops import spatial_annotate_broadcast

    points = spark.createDataFrame(points_pdf)
    ann = spatial_annotate_broadcast(points, polys)
    rows = ann.collect()
    assert len(rows) == len(points_pdf)
    assert sorted(r["image_id"] for r in rows) == sorted(points_pdf["image_id"])
    got = {
        (r["image_id"], r["polygon_id"])
        for r in ann.select("image_id", F.explode("polygon_ids").alias("polygon_id")).collect()
    }
    assert got == brute_force_pip(points_pdf, polys)


def test_radius_join_matches_bruteforce(spark):
    """radius_join (one-ring cell cover + haversine refine) equals the
    brute-force theta join, including near-face-edge points."""
    import numpy as np
    from pyspark.sql import functions as F

    from fairy_core_spark.functions.geometry import haversine_m
    from fairy_core_spark.spatial.ops import radius_join

    rng = np.random.default_rng(11)
    lat = rng.uniform(-70, 70, 400)
    lon = rng.uniform(-179, 179, 400)
    pts = spark.createDataFrame(
        [(int(i), float(lat[i]), float(lon[i])) for i in range(400)],
        "id long, lat double, lon double",
    )
    queries = pts.where(F.col("id") < 60).withColumnRenamed("id", "query_id")
    r = 500_000.0
    got = {
        (x["query_id"], x["neighbor_id"])
        for x in radius_join(pts, queries, radius_m=r).collect()
    }
    want = set()
    for qi in range(60):
        d = haversine_m(np.full(400, lat[qi]), np.full(400, lon[qi]), lat, lon)
        for ni in np.nonzero(d <= r)[0]:
            want.add((qi, int(ni)))
    assert got == want and len(want) >= 60  # self-pairs + real neighbors


def test_radius_join_rejects_hemispheric_radius(spark):
    import pytest
    from pyspark.sql import functions as F

    from fairy_core_spark.spatial.ops import radius_join

    pts = spark.range(10).select(
        F.col("id"), (F.col("id") * 1.0).alias("lat"), (F.col("id") * 2.0).alias("lon")
    )
    q = pts.withColumnRenamed("id", "query_id")
    with pytest.raises(ValueError, match="one-ring cover"):
        radius_join(pts, q, radius_m=8_000_000.0)


def test_spatial_prefix_col_scheme_aware(spark):
    """The shuffle-key prefix must have enough distinct values under BOTH
    cell-id layouts: the r4-advice parallelism cliff was hex7 ids fed to
    the S2 top-12-bit prefix (sign + constant res + face + 2 bits of i0 ->
    a few dozen keys no matter the data)."""
    import pytest as _pytest

    from fairy_core_spark.datagen.images import geo_df
    from fairy_core_spark.spatial.ops import spatial_prefix_col, with_cell

    geo = geo_df(spark, 4000)
    counts = {}
    for scheme in ("s2", "hex7"):
        cells = with_cell(geo, "lat", "lon", 12, out="tile_id", scheme=scheme)
        n = (
            cells.select(spatial_prefix_col("tile_id", scheme).alias("p"))
            .distinct()
            .count()
        )
        counts[scheme] = n
        # worldwide points at level 12 must spread well past one wave of
        # tasks on any realistic parallelism
        assert n > 200, f"{scheme}: only {n} distinct prefix keys"
    # the degenerate combination the helper exists to prevent:
    hex_cells = with_cell(geo, "lat", "lon", 12, out="tile_id", scheme="hex7")
    degenerate = (
        hex_cells.select(spatial_prefix_col("tile_id", "s2").alias("p"))
        .distinct()
        .count()
    )
    assert degenerate < 100  # proves the cliff is real, not hypothetical
    with _pytest.raises(ValueError, match="unknown cell scheme"):
        spatial_prefix_col("tile_id", "geohash")


def test_hotspot_cells_vs_bruteforce(spark):
    """hotspot_cells == a pure-Python recomputation (counts, occupied
    ring-1 neighborhoods via the same pinned geometric adjacency, global
    moments, integer hot test, Gi* z-score) on a planted cluster."""
    import math

    import numpy as np

    from fairy_core_spark.spatial import hex7
    from fairy_core_spark.spatial.ops import hotspot_cells, with_cell

    rows = []
    # dense cluster: 60 points in a ~0.4-degree blob
    for i in range(60):
        rows.append((i, 10.0 + (i % 8) * 0.05, 20.0 + (i // 8) * 0.05))
    # sparse background: 40 singleton points far apart
    for i in range(40):
        rows.append((100 + i, -40.0 + i * 1.7, -150.0 + i * 2.3))
    pts = spark.createDataFrame(rows, "pid long, lat double, lon double")
    tiled = with_cell(pts, level=3, out="cell", scheme="hex7")
    got = {
        r["cell"]: r
        for r in hotspot_cells(tiled, cell_col="cell").collect()
    }

    assign = tiled.select("pid", "cell").collect()
    counts: dict[int, int] = {}
    for r in assign:
        counts[r["cell"]] = counts.get(r["cell"], 0) + 1
    occ = np.array(sorted(counts), dtype=np.int64)
    nb = hex7.neighbors_geo(occ)
    n = len(occ)
    total = sum(counts.values())
    mu = total / n
    var = sum(v * v for v in counts.values()) / n - mu * mu
    assert len(got) == n
    hot_cells = 0
    for c, row in zip(occ.tolist(), nb):
        neigh = {c} | {int(v) for v in row.tolist() if int(v) in counts}
        k = len(neigh)
        s = sum(counts[v] for v in neigh)
        g = got[c]
        assert g["n_points"] == counts[c]
        assert g["k_neighbors"] == k
        assert g["neighbor_sum"] == s
        expect_hot = int(2 * s * n > 3 * k * total)
        assert g["is_hot"] == expect_hot
        hot_cells += expect_hot
        denom = math.sqrt(var) * math.sqrt(k * (n - k) / (n - 1))
        if n >= 2 and denom > 0:
            assert abs(g["gi_z"] - (s - k * mu) / denom) < 1e-9
        else:
            assert g["gi_z"] is None
    # the planted cluster must light up and the background must not all be hot
    assert 1 <= hot_cells < n


def test_hotspot_cells_single_cell_z_null(spark):
    from fairy_core_spark.spatial.ops import hotspot_cells, with_cell

    pts = spark.createDataFrame(
        [(1, 5.0, 5.0), (2, 5.0001, 5.0001)], "pid long, lat double, lon double"
    )
    tiled = with_cell(pts, level=2, out="cell", scheme="hex7")
    rows = hotspot_cells(tiled, cell_col="cell").collect()
    assert len(rows) == 1
    r = rows[0]
    # one occupied cell: neighborhood is itself, never "hot" vs itself,
    # z undefined (n-1 = 0)
    assert r["n_points"] == 2 and r["k_neighbors"] == 1 and r["neighbor_sum"] == 2
    assert r["is_hot"] == 0 and r["gi_z"] is None


def test_hotspot_cells_rejects_bad_factor(spark):
    import pytest as _pytest

    from fairy_core_spark.spatial.ops import hotspot_cells

    df = spark.createDataFrame([(1,)], "cell long")
    with _pytest.raises(ValueError, match="hot_num/hot_den"):
        hotspot_cells(df, hot_num=0)


def test_cluster_cells_vs_bruteforce(spark):
    """cluster_cells == a pure-Python union-find over the same pinned
    ring-1 geometric adjacency, restricted to cells meeting min_points,
    with min-cell-id labels — on a layout with two planted blobs, a
    sparse background, and sub-threshold noise cells."""
    import numpy as np

    from fairy_core_spark.spatial import hex7
    from fairy_core_spark.spatial.ops import cluster_cells, with_cell

    rows = []
    # blob A: 40 points in a tight patch
    for i in range(40):
        rows.append((i, 10.0 + (i % 8) * 0.05, 20.0 + (i // 8) * 0.05))
    # blob B: 30 points, separate patch
    for i in range(30):
        rows.append((100 + i, -25.0 + (i % 6) * 0.05, 80.0 + (i // 6) * 0.05))
    # background: isolated singletons (below min_points=2)
    for i in range(25):
        rows.append((200 + i, -40.0 + i * 1.9, -150.0 + i * 2.1))
    # isolated doubletons (qualify but have no qualifying neighbors)
    for i in range(5):
        rows.append((300 + 2 * i, 55.0 + i * 3.0, -60.0 + i * 3.0))
        rows.append((301 + 2 * i, 55.0 + i * 3.0, -60.0 + i * 3.0))
    pts = spark.createDataFrame(rows, "pid long, lat double, lon double")
    tiled = with_cell(pts, level=3, out="cell", scheme="hex7")
    got = {
        r["cell"]: (r["cluster_id"], r["n_points"])
        for r in cluster_cells(tiled, cell_col="cell", min_points=2).collect()
    }

    counts: dict[int, int] = {}
    for r in tiled.select("cell").collect():
        counts[r["cell"]] = counts.get(r["cell"], 0) + 1
    core = sorted(c for c, n in counts.items() if n >= 2)
    parent = {c: c for c in core}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    core_set = set(core)
    nb = hex7.neighbors_geo(np.array(core, dtype=np.int64))
    for c, row in zip(core, nb):
        for v in row.tolist():
            v = int(v)
            if v != c and v in core_set:
                ra, rb = find(c), find(v)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    # min-label per component
    label = {c: min(x for x in core if find(x) == find(c)) for c in core}

    assert set(got) == core_set
    for c in core:
        assert got[c] == (label[c], counts[c]), c
    # structure sanity: >= 2 multi-cell clusters (the blobs) and >= 1
    # singleton cluster labeled by itself
    from collections import Counter

    sizes = Counter(lab for lab, _ in got.values())
    assert sum(1 for s in sizes.values() if s >= 2) >= 2
    singletons = [c for c in core if sizes[label[c]] == 1]
    assert singletons and all(got[c][0] == c for c in singletons)


def test_cluster_cells_min_points_one_keeps_all(spark):
    from fairy_core_spark.spatial.ops import cluster_cells, with_cell

    pts = spark.createDataFrame(
        [(1, 5.0, 5.0), (2, -60.0, 100.0)], "pid long, lat double, lon double"
    )
    tiled = with_cell(pts, level=2, out="cell", scheme="hex7")
    rows = cluster_cells(tiled, cell_col="cell", min_points=1).collect()
    assert len(rows) == 2
    for r in rows:
        assert r["cluster_id"] == r["cell"] and r["n_points"] == 1


def test_cluster_cells_rejects_bad_min_points(spark):
    import pytest as _pytest

    from fairy_core_spark.spatial.ops import cluster_cells

    df = spark.createDataFrame([(1,)], "cell long")
    with _pytest.raises(ValueError, match="min_points"):
        cluster_cells(df, min_points=0)


def test_pip_with_holes_island(spark):
    """full even-odd multi-ring semantics: hole excludes, island inside
    the hole flips back IN — beyond what outer-AND-NOT-hole expresses."""
    import numpy as np

    from fairy_core_spark.functions.geometry import point_in_polygon_with_holes

    outer = np.array([[0, 0], [0, 12], [12, 12], [12, 0], [0, 0]], float)
    hole = np.array([[2, 2], [2, 10], [10, 10], [10, 2], [2, 2]], float)
    island = np.array([[4, 4], [4, 8], [8, 8], [8, 4], [4, 4]], float)
    lat = np.array([1.0, 5.0, 3.0, 13.0])
    lon = np.array([1.0, 5.0, 3.0, 5.0])
    got = point_in_polygon_with_holes(lat, lon, [outer, hole, island])
    # ring zone, island zone -> in; hole ring (between hole and island) -> out
    assert got.tolist() == [True, True, False, False]
