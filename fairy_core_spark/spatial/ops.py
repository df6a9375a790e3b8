"""Spark spatial operators: S2 encode, point-in-polygon joins, grid kNN,
raster<->vector tiling (north-rule ops — SURVEY.md §2.6; no reference impl,
semantics pinned there).

Physical strategy notes (the 100 TB story):

- **encode**: one Arrow pandas_udf projection, no shuffle.
- **PIP broadcast join**: polygons -> BBoxGridIndex, serialized once and
  shipped inside the UDF closure (Spark broadcasts task binaries); the
  points table is scanned once, no shuffle at all. This is the right plan
  whenever the polygon set fits in executor memory (it's the north rule's
  "ray-casting PIP against broadcast R-tree indexes").
- **PIP cell join**: the non-broadcast fallback: polygons explode to
  covering cells (driver-side numpy over the *small* polygon table), points
  carry their cell — a plain equi-join on cell (shuffle partitioned by
  cell, AQE-skew-splittable) + exact refine. Output deduped on
  (point_id, polygon_id) because a polygon covers many cells.
- **kNN**: grid join at a density-chosen level + cell-ring expansion with a
  guaranteed-correct stop (ring r covers >= r * min_width radians), then
  window top-k. Every round is an equi-join on cell — never a cross join.
- **tiling**: encode at tile level -> repartition by cell prefix (explicit,
  per the north rule) -> per-tile aggregates + partitioned write.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from fairy_core_spark.functions.geometry import EARTH_RADIUS_M, BBoxGridIndex, STRtree, haversine_m
from fairy_core_spark.spatial import s2

TILE_LEVEL = 12  # H3 res-7 equivalent (avg cell area ~5.1 km^2)


def cell_udf(level: int, scheme: str = "s2"):
    """(lat, lon) -> cell id at level, Arrow-batched. ``scheme``: "s2"
    (quadtree, published-vector-gated) or "hex7" (aperture-7 icosahedral
    hex index, spatial/hex7.py — S2 level ~2r+3 matches hex7 res r cell
    area; hex7 res 7 ~ the H3-res-7 tiling of the north rule)."""
    if scheme == "s2":
        enc = lambda la, lo: s2.cell_id(la, lo, level)  # noqa: E731
    elif scheme == "hex7":
        from fairy_core_spark.spatial import hex7

        enc = lambda la, lo: hex7.cell_id(la, lo, level)  # noqa: E731
    else:
        raise ValueError(f"unknown cell scheme {scheme!r}; one of ['s2', 'hex7']")

    @F.pandas_udf(LongType())
    def _enc(lat: pd.Series, lon: pd.Series) -> pd.Series:
        return pd.Series(enc(lat.to_numpy(np.float64), lon.to_numpy(np.float64)))

    return _enc


def with_cell(df: DataFrame, lat_col: str = "lat", lon_col: str = "lon",
              level: int = TILE_LEVEL, out: str = "cell", scheme: str = "s2") -> DataFrame:
    return df.withColumn(out, cell_udf(level, scheme)(F.col(lat_col), F.col(lon_col)))


def s2_parent_col(cell, level: int):
    """S2 cellToParent as pure Column bit math (the Column twin of
    spatial/s2.parent): clear everything below the new sentinel bit and
    set it. ``cell & -new_lsb`` is the two's-complement spelling of
    ``cell & ~(new_lsb - 1)`` — exact for faces 4-5 whose int64 ids are
    negative. Rows must already be at a level >= ``level``."""
    if not 0 <= level <= s2.MAX_LEVEL:
        raise ValueError(f"level must be in [0, {s2.MAX_LEVEL}], got {level}")
    new_lsb = 1 << (2 * (s2.MAX_LEVEL - level))
    return cell.bitwiseAND(F.lit(-new_lsb).cast("long")).bitwiseOR(
        F.lit(new_lsb).cast("long")
    )


def s2_pyramid(
    df: DataFrame, cell_col: str = "cell", levels: tuple[int, ...] = (12, 8, 4)
) -> DataFrame:
    """S2 twin of :func:`fairy_core_spark.spatial.hex7_ops.hex7_pyramid`:
    explode each row to (res, cell) at every pyramid level through one
    codegen Generate(stack), coarser cells via :func:`s2_parent_col`.
    Input cells must be at level ``max(levels)``."""
    from fairy_core_spark.spatial.hex7_ops import pyramid_stack

    lvls = sorted({int(l) for l in levels}, reverse=True)
    if not lvls or not (0 <= lvls[-1] and lvls[0] <= s2.MAX_LEVEL):
        raise ValueError(
            f"levels must be non-empty, all in [0, {s2.MAX_LEVEL}], got {levels}"
        )
    return pyramid_stack(df, cell_col, lvls, s2_parent_col)


def s2_descendant_range(parent: int, level: int) -> tuple[int, int]:
    """[lo, hi] id range covering EXACTLY the level-``level`` descendants
    of ``parent`` — S2's Hilbert prefix property (the quadtree sibling of
    hex7_ops.hex7_descendant_range): the subtree spans (parent - lsb_p,
    parent + lsb_p) and the level-l ids inside it are offset by their own
    sentinel, so lo = parent - lsb_p + lsb_l, hi = parent + lsb_p - lsb_l.
    Signed int64 compare is safe per-range: a subtree never crosses the
    face-4/5 sign boundary (the face bits are constant inside it)."""
    pr = int(s2.cell_level(np.array([parent], dtype=np.int64))[0])
    if not pr <= level <= s2.MAX_LEVEL:
        raise ValueError(f"need parent level {pr} <= level {level} <= {s2.MAX_LEVEL}")
    lsb_p = 1 << (2 * (s2.MAX_LEVEL - pr))
    lsb_l = 1 << (2 * (s2.MAX_LEVEL - level))
    return int(parent) - lsb_p + lsb_l, int(parent) + lsb_p - lsb_l


def s2_range_filter(
    parents, level: int, cell_col: str = "scell", max_ranges: int = 64
):
    """Pushdown-able scan predicate: stored level-``level`` S2 cell column
    is a descendant of any of ``parents`` (mixed-level iterable) — OR of
    BETWEENs that parquet footer min/max prunes on a `cluster_by_s2`
    layout (same contract as hex7_ops.hex7_range_filter). Ranges whose gap
    contains no valid level-l id (sibling spacing 2*lsb_l) are merged, so
    a full sibling set collapses to the parent's single BETWEEN."""
    lsb_l = 1 << (2 * (s2.MAX_LEVEL - level))
    ranges = sorted(s2_descendant_range(int(p), level) for p in parents)
    if not ranges:
        raise ValueError("s2_range_filter needs at least one parent cell")
    merged = [list(ranges[0])]
    for lo, hi in ranges[1:]:
        if lo <= merged[-1][1] + 2 * lsb_l:
            merged[-1][1] = max(merged[-1][1], hi)
        else:
            merged.append([lo, hi])
    if len(merged) > max_ranges:
        raise ValueError(
            f"{len(merged)} ranges after merging (> {max_ranges}); use coarser "
            "parents"
        )
    c = F.col(cell_col)
    pred = c.between(F.lit(merged[0][0]), F.lit(merged[0][1]))
    for lo, hi in merged[1:]:
        pred = pred | c.between(F.lit(lo), F.lit(hi))
    return pred


def cluster_by_s2(
    df: DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
    level: int = TILE_LEVEL,
    n_partitions: int = 32,
    cell_col: str = "scell",
) -> DataFrame:
    """Range-partition + sort by S2 cell id for spatial data skipping (the
    quadtree sibling of hex7_ops.cluster_by_hex7 / zorder's clustered
    layout): Hilbert-ordered ids make every output partition a compact
    spatial footprint, so `s2_range_filter` predicates prune row groups
    via footer stats. The cell column is KEPT (pushdown needs a stored
    column)."""
    return (
        with_cell(df, lat_col, lon_col, level, out=cell_col, scheme="s2")
        .repartitionByRange(n_partitions, cell_col)
        .sortWithinPartitions(cell_col)
    )


def _rings_dict(polygons_pdf: pd.DataFrame) -> dict[str, np.ndarray]:
    out = {}
    for _, r in polygons_pdf.iterrows():
        ring = np.array([[p["lat"], p["lon"]] for p in r["ring"]], dtype=np.float64)
        out[r["polygon_id"]] = ring
    return out


_INDEX_CLS = {"grid": BBoxGridIndex, "rtree": STRtree}


def _make_index(polygons_pdf: pd.DataFrame, index: str):
    try:
        cls = _INDEX_CLS[index]
    except KeyError:
        raise ValueError(f"unknown polygon index {index!r}; one of {sorted(_INDEX_CLS)}")
    return cls(_rings_dict(polygons_pdf))


def spatial_join_broadcast(
    points: DataFrame,
    polygons_pdf: pd.DataFrame,
    id_col: str = "image_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    index: str = "grid",
) -> DataFrame:
    """(point_id, polygon_id) containment pairs; zero-shuffle broadcast plan.

    ``index`` picks the broadcast polygon structure: ``"grid"`` (uniform
    bbox grid — best for the small/uniform fixture sets) or ``"rtree"``
    (STR-packed R-tree — balanced under clustered polygon sets; the north
    rule's named structure). Both refine with the identical ray cast, so
    the output pair set is the same (tested)."""
    index = _make_index(polygons_pdf, index)
    schema = f"{id_col} string, polygon_id string"

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                continue
            lat = pdf[lat_col].to_numpy(np.float64)
            lon = pdf[lon_col].to_numpy(np.float64)
            pairs = index.contains_batch(lat, lon)
            if not pairs:
                continue
            ids = pdf[id_col].to_numpy()
            yield pd.DataFrame(
                {id_col: [ids[i] for i, _ in pairs], "polygon_id": [p for _, p in pairs]}
            )

    return points.select(id_col, lat_col, lon_col).mapInPandas(run, schema=schema)


def spatial_annotate_broadcast(
    df: DataFrame,
    polygons_pdf: pd.DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
    out: str = "polygon_ids",
    index: str = "grid",
) -> DataFrame:
    """Broadcast PIP as a row-preserving annotation: every input row kept
    exactly once, with a ``polygon_ids: array<string>`` column of the
    containing polygons (empty = contained by none). Same containment
    semantics as :func:`spatial_join_broadcast` (explode the array to get
    the pair set — tested equal), but it carries the full row through so
    validate -> encode -> PIP -> tile composes into ONE linear plan with
    no persist/double-scan and no row multiplication (the pipeline hot
    path: downstream rollups stay plain count/avg aggregates).

    ``index``: broadcast structure, ``"grid"`` or ``"rtree"`` (see
    :func:`spatial_join_broadcast`)."""
    index = _make_index(polygons_pdf, index)
    in_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    schema = f"{in_schema}, {out} array<string>"

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                continue
            lat = pdf[lat_col].to_numpy(np.float64)
            lon = pdf[lon_col].to_numpy(np.float64)
            pairs = index.contains_batch(lat, lon)
            lists: list[list[str]] = [[] for _ in range(len(pdf))]
            for i, pid in pairs:
                lists[i].append(pid)
            res = pdf.copy()
            res[out] = lists
            yield res

    return df.mapInPandas(run, schema=schema)


def tile_aggregates_annotated(
    tiled: DataFrame, keys: tuple[str, ...] = ("tile_id",)
) -> DataFrame:
    """per-tile rollup over PIP-annotated rows (one row per image): image
    count, mean dims, exact phash dup count, PIP match count. ``keys``:
    the grouping key columns — ("tile_id",) for the one-level rollup,
    ("res", "cell") when the rows have been pyramid-exploded upstream.

    Exact distinct WITHOUT countDistinct: a single multi-countDistinct
    rollup plans an Expand (rows x distinct-aggs) and an HLL sketch per
    group is worse here (tiles hold ~1-3 images, sketches are KBs). The
    scalable exact pattern is two-level: pre-aggregate by (keys, phash),
    which collapses dup hashes, then roll tiles up from partial sums.
    Every stage is partial-aggregable.

    On the one-level path both groupings lead with ``tile_prefix`` (a
    function of ``tile_id``, so the groups are the same) and drop it at
    the end: the rows' ``hashpartitioning(tile_prefix)`` then satisfies
    both aggregates, and they add no shuffle. The pyramid path keeps
    (res, cell), because a coarse cell can span two prefixes."""
    group = ("tile_prefix", *keys) if keys == ("tile_id",) else keys
    lvl1 = tiled.groupBy(*group, "phash").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("w").alias("sw"),
        F.sum("h").alias("sh"),
        F.sum(F.size("polygon_ids")).alias("sp"),
    )
    rollup = lvl1.groupBy(*group).agg(
        F.sum("cnt").alias("n_images"),
        F.round(F.sum("sw") / F.sum("cnt"), 4).alias("avg_w"),
        F.round(F.sum("sh") / F.sum("cnt"), 4).alias("avg_h"),
        (F.sum("cnt") - F.count(F.lit(1))).alias("n_phash_dups"),
        F.sum("sp").alias("n_pip_matches"),
    )
    return rollup.drop("tile_prefix")


def spatial_join_cells(
    points: DataFrame,
    polygons_pdf: pd.DataFrame,
    id_col: str = "image_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    level: int = 8,
    scheme: str = "s2",
) -> DataFrame:
    """Equi-join-on-cell + exact-refine plan (the at-scale fallback when
    polygons don't broadcast). Returns the same row set as the broadcast
    plan (tested equal). ``scheme``: "s2" (bbox-sampled covering,
    functions/geometry.polygon_covering_cells) or "hex7" (aperture-7 hex
    polyfill covering, spatial/hex7.polyfill mode="cover") — the covering
    is a superset either way and the ray-cast refine restores exactness,
    so both schemes produce the identical pair set."""
    from fairy_core_spark.functions.geometry import polygon_covering_cells
    from fairy_core_spark.spatial import hex7

    if scheme == "s2":
        covering = lambda ring: polygon_covering_cells(ring, level)  # noqa: E731
    elif scheme == "hex7":
        covering = lambda ring: hex7.polyfill(ring, level, mode="cover")  # noqa: E731
    else:
        raise ValueError(f"unknown cell scheme {scheme!r}; one of ['s2', 'hex7']")

    spark = points.sparkSession
    rings = _rings_dict(polygons_pdf)
    cover_rows = []
    for pid, ring in rings.items():
        for c in covering(ring):
            cover_rows.append((int(c), pid))
    cover = spark.createDataFrame(cover_rows, schema="cell long, polygon_id string")

    pts = with_cell(points.select(id_col, lat_col, lon_col), lat_col, lon_col, level, scheme=scheme)
    cand = pts.join(F.broadcast(cover), "cell").drop("cell")

    # exact refine per candidate pair (bbox + ray cast inside an Arrow UDF)
    index = BBoxGridIndex(rings)
    ring_by_id = {pid: i for i, pid in enumerate(index.ids)}
    schema = f"{id_col} string, polygon_id string"

    def refine(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                continue
            keep = np.zeros(len(pdf), dtype=bool)
            lat = pdf[lat_col].to_numpy(np.float64)
            lon = pdf[lon_col].to_numpy(np.float64)
            for pid, grp in pdf.groupby("polygon_id"):
                idx = grp.index.to_numpy()
                pos = pdf.index.get_indexer(idx)
                from fairy_core_spark.functions.geometry import point_in_ring

                keep[pos] = point_in_ring(lat[pos], lon[pos], index.rings[ring_by_id[pid]])
            out = pdf.loc[keep, [id_col, "polygon_id"]]
            if len(out):
                yield out

    return cand.mapInPandas(refine, schema=schema).dropDuplicates([id_col, "polygon_id"])


def radius_join(
    points: DataFrame,
    queries: DataFrame,
    radius_m: float,
    id_col: str = "id",
    query_id_col: str = "query_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    level: int | None = None,
) -> DataFrame:
    """Distance (radius) join: all (query, point) pairs within ``radius_m``
    haversine meters. Exact, never a cross join: the grid level is chosen
    so one Chebyshev ring covers the radius (cell min-width >= radius),
    queries explode to their ring-0..1 cells, candidates arrive via the
    cell equi-join, a haversine filter refines. Candidates per query ~
    points in 9 cells — the bin-bounded 2-D analogue of
    operators/joins.interval_join_binned. Output: (query_id, neighbor_id,
    distance_m), self-pairs included if present in both sides."""
    from fairy_core_spark.spatial.trajectory import haversine_m as haversine_col

    if level is None:
        # largest level whose min cell width still covers the radius:
        # then ring 1 (the 8 neighbors + own cell) covers the disk
        if radius_m > s2.min_width_rad(0) * 6371000.0:
            raise ValueError(
                f"radius_m={radius_m:,.0f} exceeds the level-0 cell width "
                f"(~{s2.min_width_rad(0) * 6371000.0:,.0f} m); the one-ring "
                "cover guarantee does not hold for near-hemispheric radii — "
                "use a brute-force join at that scale"
            )
        level = 0
        while level < 16 and s2.min_width_rad(level + 1) * 6371000.0 >= radius_m:
            level += 1
    pts = (
        with_cell(points.select(F.col(id_col).alias("nid"), lat_col, lon_col),
                  lat_col, lon_col, level)
        .withColumnRenamed(lat_col, "nlat")
        .withColumnRenamed(lon_col, "nlon")
    )
    q0 = with_cell(
        queries.select(F.col(query_id_col).alias("qid"), lat_col, lon_col),
        lat_col, lon_col, level,
    ).withColumnRenamed(lat_col, "qlat").withColumnRenamed(lon_col, "qlon")

    @F.pandas_udf("array<long>")
    def _disk_cells(cell: pd.Series) -> pd.Series:
        arr = cell.to_numpy(np.int64)
        out: list[list[int]] = [None] * len(arr)
        interior = s2.ring_is_interior(arr, level, 1)
        if interior.any():
            ring1 = s2.ring_interior(arr[interior], level, 1)
            for slot, c, row in zip(np.nonzero(interior)[0], arr[interior], ring1):
                out[slot] = sorted({int(c), *(int(x) for x in row)})
        for slot in np.nonzero(~interior)[0]:
            nbrs = s2.neighbors(np.array([arr[slot]], dtype=np.int64), level)[0]
            out[slot] = sorted({int(arr[slot]), *(int(x) for x in nbrs)})
        return pd.Series(out)

    cand = (
        q0.withColumn("cells", _disk_cells(F.col("cell")))
        .select("qid", "qlat", "qlon", F.explode("cells").alias("cell"))
        .join(pts, "cell")
    )
    # native refine, no Python crossing: functions/geometry.haversine_m's
    # formula on its sphere; only the last ulp can differ from the numpy one
    dist = haversine_col(
        F.col("qlat"), F.col("qlon"), F.col("nlat"), F.col("nlon"), radius_m=EARTH_RADIUS_M
    )
    return (
        cand.withColumn("distance_m", dist)
        .where(F.col("distance_m") <= float(radius_m))
        .select(
            F.col("qid").alias(query_id_col),
            F.col("nid").alias("neighbor_id"),
            F.round("distance_m", 3).alias("distance_m"),
        )
    )


def choose_knn_level(n_points: int, k: int) -> int:
    """Density-adaptive grid level: coarse enough that an average cell
    holds >= ~2k points, so ring-0/1 usually resolves. 6*4^L cells cover
    the sphere -> L = log4(n / (12k))."""
    import math

    target = max(n_points / (12.0 * max(k, 1)), 1.0)
    return max(0, min(16, int(math.log(target, 4))))


def _plan_row_estimate(df: DataFrame) -> int | None:
    """Catalyst's row-count estimate for ``df``'s optimized plan, or None.

    Present for free on parquet scans with footer statistics (and anywhere
    CBO stats propagate); avoids a full count() when the caller only needs
    an order of magnitude. Best-effort: any Py4J/analysis hiccup -> None.
    """
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        rc = stats.rowCount()
        if rc.isDefined():
            return int(str(rc.get()))
    except Exception:
        pass
    return None


def knn_join(
    points: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "id",
    query_id_col: str = "query_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    level: int | None = None,
    max_rounds: int = 4,
    n_points: int | None = None,
) -> DataFrame:
    """Grid-partitioned kNN with cell-ring expansion (north-rule op).

    Round r joins still-unresolved queries against candidates in their
    ring-<=r cell neighborhood (equi-join on cell — never a cross join).
    A query resolves when its kth-best distance <= r * min_width(level):
    any unexplored point is at least r cell-widths away, so the top-k is
    final (exact). Queries still unresolved after ``max_rounds`` fall back
    to a brute-force join (guaranteed exactness; with the density-adaptive
    level this is a vanishing fraction). Output: (query_id, neighbor_id,
    distance_m, rank) — exact kNN, ties broken by neighbor id.

    ``level`` selection needs only an order-of-magnitude point count (a 4x
    miss shifts the grid one level; ring expansion absorbs it), so when
    ``level`` is None the count comes from, in order: the ``n_points`` hint
    (pass table/snapshot metadata here — e.g. ParquetDirCatalog.row_count
    row counts — instead of paying a scan), Catalyst's optimized-plan row
    estimate when available, and only then a real ``count()`` — at 100 TB
    the old unconditional count() was one full extra scan per call.
    """
    if level is None:
        if n_points is None:
            n_points = _plan_row_estimate(points)
        if n_points is None:
            n_points = points.count()
        level = choose_knn_level(n_points, k)
    pts = (
        with_cell(points.select(F.col(id_col).alias("nid"), lat_col, lon_col),
                  lat_col, lon_col, level)
        .withColumnRenamed(lat_col, "nlat")
        .withColumnRenamed(lon_col, "nlon")
        .cache()
    )
    q0 = (
        with_cell(queries.select(F.col(query_id_col).alias("qid"), lat_col, lon_col),
                  lat_col, lon_col, level)
        .withColumnRenamed(lat_col, "qlat")
        .withColumnRenamed(lon_col, "qlon")
        .cache()
    )

    min_width_m = s2.min_width_rad(level) * 6371000.0
    lvl = level

    def ring_cells(r: int):
        """cells at Chebyshev ring exactly r (r=0 -> the cell itself).
        Vectorized offset arithmetic for the ~99% of cells whose ring stays
        on one face (s2.ring_interior: one (i,j)+offset pass, no per-row
        walk); exact BFS over s2.neighbors only for face-edge rows, where
        offset projection would clip."""

        @F.pandas_udf("array<long>")
        def _ring(cell: pd.Series) -> pd.Series:
            arr = cell.to_numpy(np.int64)
            if r == 0:
                return pd.Series([[int(c)] for c in arr])
            out: list[list[int] | None] = [None] * len(arr)
            interior = s2.ring_is_interior(arr, lvl, r)
            if interior.any():
                fast = s2.ring_interior(arr[interior], lvl, r)
                for slot, row in zip(np.nonzero(interior)[0], fast):
                    out[slot] = sorted(set(int(x) for x in row))
            for slot in np.nonzero(~interior)[0]:
                frontier = {int(arr[slot])}
                seen = {int(arr[slot])}
                for _ in range(r):
                    nxt = set()
                    a = np.array(sorted(frontier), dtype=np.int64)
                    for row in s2.neighbors(a, lvl):
                        nxt.update(int(x) for x in row)
                    frontier = nxt - seen
                    seen |= nxt
                out[slot] = sorted(frontier)
            return pd.Series(out)

        return _ring

    dist = haversine_udf()
    w = Window.partitionBy("qid").orderBy(F.asc("distance_m"), F.asc("nid"))

    def score(cand: DataFrame) -> DataFrame:
        return cand.withColumn(
            "distance_m", dist(F.col("qlat"), F.col("qlon"), F.col("nlat"), F.col("nlon"))
        ).select("qid", "nid", "distance_m")

    unresolved = q0
    results = None
    for r in range(max_rounds + 1):
        ring = unresolved.withColumn("cells", ring_cells(r)(F.col("cell")))
        cand = (
            ring.select("qid", "qlat", "qlon", F.explode("cells").alias("cell"))
            .join(pts, "cell")
        )
        batch = score(cand)
        # No per-round dedup: a point's cell sits at exactly ONE Chebyshev
        # distance from the query cell, and both ring paths (offset
        # arithmetic / BFS frontier) emit exactly the distance-r cells, so
        # (qid, nid) pairs are disjoint across rounds by construction.
        # Round 2 re-shuffled the whole accumulated set every round; now
        # union is free and one dedup runs at the end (fallback safety).
        results = batch if results is None else results.unionByName(batch)
        results = results.localCheckpoint(eager=False)  # truncate union lineage

        # resolved iff k found AND kth distance inside the ring-r guarantee;
        # the window only needs rows for still-unresolved queries
        guaranteed = r * min_width_m
        active = results.join(unresolved.select("qid"), "qid", "left_semi")
        kth = (
            active.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .groupBy("qid")
            .agg(F.count(F.lit(1)).alias("n"), F.max("distance_m").alias("dk"))
        )
        resolved_ids = kth.where((F.col("n") >= k) & (F.col("dk") <= F.lit(guaranteed)))
        unresolved = unresolved.join(resolved_ids.select("qid"), "qid", "left_anti")
        if unresolved.isEmpty():
            unresolved = None
            break

    if unresolved is not None and not unresolved.isEmpty():
        # exact fallback for the stragglers (tiny after adaptive leveling);
        # overlaps the ring candidates, handled by the final dedup
        brute = score(unresolved.select("qid", "qlat", "qlon").crossJoin(pts))
        results = results.unionByName(brute)

    final = (
        results.dropDuplicates(["qid", "nid"])
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("qid").alias(query_id_col),
            F.col("nid").alias("neighbor_id"),
            F.round("distance_m", 3).alias("distance_m"),
            "rank",
        )
    )
    return final


def haversine_udf():
    @F.pandas_udf("double")
    def _hav(lat1: pd.Series, lon1: pd.Series, lat2: pd.Series, lon2: pd.Series) -> pd.Series:
        return pd.Series(
            haversine_m(
                lat1.to_numpy(np.float64),
                lon1.to_numpy(np.float64),
                lat2.to_numpy(np.float64),
                lon2.to_numpy(np.float64),
            )
        )

    return _hav


def spatial_prefix_col(cell_col, scheme: str = "s2", prefix_bits: int = 12):
    """Scheme-aware SPATIAL shuffle-key prefix for a cell-id column.

    The repartition key must have enough distinct values to spread
    n_partitions. For s2 the id is a Hilbert-style bitstring, so the top
    ``prefix_bits`` bits work. hex7 ids are field-packed
    (sign|res|face|i0|j0|digits...): the top 12 bits are sign + constant
    res + face + 2 bits of i0 — ~20-40 distinct keys no matter the data, a
    parallelism cliff. Its spatial prefix is instead "ancestor at a coarser
    res": drop the trailing digits, keep res|face|i0|j0 plus two aperture-7
    digits (bit 36 boundary) — up to 49 keys per occupied res-0 cell,
    clustered exactly like a parent rollup."""
    c = F.col(cell_col) if isinstance(cell_col, str) else cell_col
    if scheme == "hex7":
        return F.shiftrightunsigned(c, 36)
    if scheme != "s2":
        raise ValueError(f"unknown cell scheme {scheme!r} (want 's2' or 'hex7')")
    return F.shiftrightunsigned(c, 64 - prefix_bits)


def tile_assign(
    images: DataFrame,
    geo: DataFrame,
    id_col: str = "image_id",
    level: int = TILE_LEVEL,
    prefix_bits: int = 12,
    n_partitions: int | None = None,
    scheme: str = "s2",
) -> DataFrame:
    """raster->vector tiling: each image lands in its S2 (or hex7) tile via
    lat/lon metadata. Join on image_id (both sides huge at scale:
    sort-merge, AQE-planned), encode, then *explicit repartition by cell
    prefix* (north rule) so spatially-near tiles co-locate in output
    partitions."""
    tagged = images.join(geo, id_col)
    tiled = with_cell(tagged, "lat", "lon", level, out="tile_id", scheme=scheme)
    prefix = spatial_prefix_col("tile_id", scheme, prefix_bits).alias("tile_prefix")
    n = n_partitions or tiled.sparkSession.sparkContext.defaultParallelism * 2
    return tiled.withColumn("tile_prefix", prefix).repartition(n, "tile_prefix")


def tile_aggregates(tiled: DataFrame) -> DataFrame:
    """per-tile rollup (count, mean dims, dup count by phash) over rows
    repartitioned by ``tile_prefix`` (``tile_assign``). Grouping leads
    with ``tile_prefix``, a function of ``tile_id``, so that partitioning
    satisfies every aggregate and the rollup adds no shuffle."""
    return (
        tiled.groupBy("tile_prefix", "tile_id")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.round(F.avg("w"), 4).alias("avg_w"),
            F.round(F.avg("h"), 4).alias("avg_h"),
            (F.count(F.lit(1)) - F.countDistinct("phash")).alias("n_phash_dups"),
        )
        .drop("tile_prefix")
    )


def polygons_to_cells(polygons_pdf: pd.DataFrame, level: int = TILE_LEVEL) -> pd.DataFrame:
    """vector->raster: polygon ids to member cell sets (covering at tile
    level, exact-center refine). Driver-side numpy (polygon tables are
    small); returns (polygon_id, cell) pandas frame."""
    from fairy_core_spark.functions.geometry import point_in_ring, polygon_covering_cells

    rows = []
    for _, r in polygons_pdf.iterrows():
        ring = np.array([[p["lat"], p["lon"]] for p in r["ring"]], dtype=np.float64)
        cells = polygon_covering_cells(ring, level)
        clat, clon = s2.cell_center_latlon(cells)
        keep = point_in_ring(clat, clon, ring)
        for c in cells[keep]:
            rows.append((r["polygon_id"], int(c)))
    return pd.DataFrame(rows, columns=["polygon_id", "cell"])


def bbox_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str = "l_id",
    right_id: str = "r_id",
    bin_deg: float = 5.0,
) -> DataFrame:
    """Spatial overlay join: (left_id, right_id) pairs whose lat/lon
    bounding boxes overlap (edge-touching counts — closed intervals,
    matching the SQL ``l.lat0 <= r.lat1 AND r.lat0 <= l.lat1 AND ...``
    theta join the driver oracle runs). Both inputs carry
    (id, lat0, lat1, lon0, lon1). North-rule op — no reference impl;
    the 2-D sibling of operators/joins.py:interval_join_binned.

    Plan (the 100 TB story): each bbox explodes to the coarse grid cells
    it covers (two native ``sequence``/``explode``s — no Python), the
    sides meet in a plain equi-join on the cell, and the exact overlap
    test refines. **No dedup shuffle is ever needed**: an overlapping
    pair would match in every shared cell, so the join emits only from
    the unique cell that contains the intersection rectangle's min
    corner (``floor(greatest(lat0s)/s), floor(greatest(lon0s)/s)``) —
    the classic duplicate-avoidance trick for grid spatial joins. One
    shuffle total, AQE-skew-splittable on hot cells; ``bin_deg`` trades
    replication (big boxes cover more cells) against join selectivity.
    """

    def expand(df: DataFrame, pid: str, side: str) -> DataFrame:
        s = F.lit(float(bin_deg))
        return (
            df.select(
                F.col(pid),
                F.col("lat0").alias(f"{side}_lat0"),
                F.col("lat1").alias(f"{side}_lat1"),
                F.col("lon0").alias(f"{side}_lon0"),
                F.col("lon1").alias(f"{side}_lon1"),
            )
            .withColumn(
                "ci",
                F.explode(
                    F.sequence(
                        F.floor(F.col(f"{side}_lat0") / s),
                        F.floor(F.col(f"{side}_lat1") / s),
                    )
                ),
            )
            .withColumn(
                "cj",
                F.explode(
                    F.sequence(
                        F.floor(F.col(f"{side}_lon0") / s),
                        F.floor(F.col(f"{side}_lon1") / s),
                    )
                ),
            )
        )
    l = expand(left, left_id, "l")
    r = expand(right, right_id, "r")
    s = F.lit(float(bin_deg))
    overlap = (
        (F.col("l_lat0") <= F.col("r_lat1")) & (F.col("r_lat0") <= F.col("l_lat1"))
        & (F.col("l_lon0") <= F.col("r_lon1")) & (F.col("r_lon0") <= F.col("l_lon1"))
    )
    emit_here = (
        (F.col("ci") == F.floor(F.greatest(F.col("l_lat0"), F.col("r_lat0")) / s))
        & (F.col("cj") == F.floor(F.greatest(F.col("l_lon0"), F.col("r_lon0")) / s))
    )
    return (
        l.join(r, ["ci", "cj"])
        .where(overlap & emit_here)
        .select(left_id, right_id)
    )


def _ring1_edges(cells_df: DataFrame, cell_col: str) -> DataFrame:
    """(cell, nbr) ring-1 geometric adjacency rows for each distinct cell
    in ``cells_df`` (one row per input row x up to 6 neighbors; self-edges
    never emitted). An Arrow projection over the cell frame — the shared
    expansion step of the hex-grid analytics ops (hotspot, clustering).
    ``nbr`` ids are raw neighbors_geo output: callers join back to their
    own occupied/qualifying set to filter."""
    from fairy_core_spark.spatial import hex7

    @F.pandas_udf("array<long>")
    def _ring1(c: pd.Series) -> pd.Series:
        cells = c.to_numpy(dtype=np.int64)
        if cells.size == 0:
            return pd.Series([], dtype=object)
        nb = hex7.neighbors_geo(cells)
        out = []
        for self_c, row in zip(cells.tolist(), nb):
            u = np.unique(row)
            out.append([int(v) for v in u.tolist() if v != self_c])
        return pd.Series(out)

    return cells_df.select(
        F.col(cell_col), F.explode(_ring1(F.col(cell_col))).alias("nbr")
    )


def hotspot_cells(
    tiled: DataFrame,
    cell_col: str = "cell",
    weight_col: str | None = None,
    hot_num: int = 3,
    hot_den: int = 2,
) -> DataFrame:
    """Getis-Ord-style hotspot detection over an occupied hexagonal
    tiling (north-rule spatial-analytics op — no reference impl; the
    classic Gi* statistic, Getis & Ord 1992, with binary ring-1 weights
    restricted to the *occupied*-cell population).

    Input: one row per point (or pre-weighted row) already carrying a
    hex7 cell id in ``cell_col`` (all cells at one resolution). Per
    occupied cell i with count x_i, the neighborhood N(i) = {i} plus its
    geometric ring-1 neighbors (spatial/hex7.neighbors_geo — stitched
    across icosahedron faces) that are themselves occupied. Emits:

    - ``n_points``   x_i (or sum of ``weight_col``, which must be integral)
    - ``k_neighbors``  |N(i)| (1..7)
    - ``neighbor_sum`` S_i = sum_{j in N(i)} x_j
    - ``is_hot``     1 iff the neighborhood mean exceeds hot_num/hot_den
      times the global occupied-cell mean, evaluated as the
      cross-multiplied INTEGER inequality
      ``hot_den * S_i * n_cells > hot_num * |N(i)| * total`` — exact and
      float-free, so it cross-checks bit-for-bit in any SQL engine.
    - ``gi_z``       the binary-weight Gi* z-score over the occupied-cell
      population (float; library convenience, NOT part of the exact
      contract — NULL when n_cells < 2 or the variance term is 0).

    Unoccupied cells contribute nothing: restricting S_i to occupied
    neighbors is exact (their count is 0), and k_i counting only occupied
    neighbors makes the statistic a *neighborhood-mean* test over cells
    that exist — the right convention for sparse point data where the
    global zero-sea would otherwise flag every occupied cell hot.

    Plan (the 100 TB story): one groupBy on the points (map-side
    combined); everything after runs on the occupied-cell frame, which is
    smaller than the input by the mean cell occupancy — ring-1 expansion
    is an Arrow projection over that frame (7 edges/cell), the
    neighbor-sum is an equi-join on int64 cell ids, and the global
    moments are a 1-row aggregate broadcast back. No driver collect, no
    cross join, nothing quadratic.
    """
    if hot_den <= 0 or hot_num <= 0:
        raise ValueError(f"hot_num/hot_den must be positive, got {hot_num}/{hot_den}")
    counts = tiled.groupBy(cell_col).agg(mass_col(weight_col).cast("long").alias("x"))

    edges = _ring1_edges(counts, cell_col).unionByName(
        counts.select(F.col(cell_col), F.col(cell_col).alias("nbr"))
    )
    # inner join keeps only occupied neighbors (and drops the ring ids a
    # face-boundary cell can carry for cells no point encodes to)
    neigh = (
        edges.join(counts.select(F.col(cell_col).alias("nbr"), "x"), "nbr")
        .groupBy(cell_col)
        .agg(F.count(F.lit(1)).alias("k_neighbors"), F.sum("x").alias("neighbor_sum"))
    )
    glob = counts.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("x").alias("total"),
        F.sum(F.col("x") * F.col("x")).alias("sum_sq"),
    )
    n, tot, k, s = (F.col(c) for c in ("n_cells", "total", "k_neighbors", "neighbor_sum"))
    mu = tot / n
    var = F.col("sum_sq") / n - mu * mu
    denom = F.sqrt(var) * F.sqrt(k * (n - k) / (n - F.lit(1)))
    return (
        neigh.join(counts, cell_col)
        .crossJoin(F.broadcast(glob))
        .select(
            F.col(cell_col),
            F.col("x").alias("n_points"),
            k,
            s,
            (F.lit(int(hot_den)) * s * n > F.lit(int(hot_num)) * k * tot)
            .cast("int")
            .alias("is_hot"),
            F.when((n >= 2) & (denom > 0), (s - k * mu) / denom).alias("gi_z"),
        )
    )


def cluster_cells(
    tiled: DataFrame,
    cell_col: str = "cell",
    min_points: int = 1,
    max_iters: int = 50,
) -> DataFrame:
    """Grid-based spatial clustering (north-rule spatial-analytics op —
    no reference impl; the DBSCAN-on-a-hex-grid shape every density map
    uses): occupied hex7 cells with at least ``min_points`` points are
    core cells; core cells that are ring-1 geometric neighbors belong to
    the same cluster; ``cluster_id`` = MIN cell id in the connected
    component (deterministic, engine-portable). Emits one row per core
    cell: (cell, cluster_id, n_points). Isolated core cells are
    singleton clusters labeled by themselves.

    Plan (the 100 TB story): one map-side-combined groupBy on the points;
    the adjacency expansion, the qualifying-neighbor join, and the
    pointer-jumping min-label connected components
    (operators/dedup.connected_components — localCheckpoint-truncated
    rounds, state = (int64, int64) pairs) all run on the core-CELL
    frame, which is smaller than the input by the mean cell occupancy.
    Rounds = O(log diameter) thanks to the label shortcut, so even a
    continent-spanning chain of adjacent occupied cells converges in a
    few dozen rounds; if ``max_iters`` is still exhausted the run fails
    loudly rather than returning partial labels.
    """
    from fairy_core_spark.operators.dedup import connected_components

    if min_points < 1:
        raise ValueError(f"min_points must be >= 1, got {min_points}")
    counts = (
        tiled.groupBy(cell_col)
        .agg(F.count(F.lit(1)).alias("n_points"))
        .where(F.col("n_points") >= int(min_points))
        .persist()
    )
    # adjacency restricted to qualifying cells on BOTH endpoints; ring-1
    # geometric adjacency can be asymmetric at face boundaries, so
    # canonicalize (least, greatest) + dedup rather than filtering one
    # direction — halves the edge frame connected_components re-joins
    # every round (it symmetrizes internally) without risking edge loss
    edges = (
        _ring1_edges(counts, cell_col)
        .join(counts.select(F.col(cell_col).alias("nbr")), "nbr")
        .select(
            F.least(F.col(cell_col), F.col("nbr")).alias("id_a"),
            F.greatest(F.col(cell_col), F.col("nbr")).alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    cc = connected_components(edges, max_iters=max_iters, on_nonconverged="raise")
    # connected_components has fully materialized its labels (eager
    # localCheckpoint per round), so release the cache now; the final
    # join recomputes the counts groupBy once instead of holding cached
    # blocks for the life of the session (cf. the _memo_df eviction
    # discipline in queries.py)
    counts.unpersist()
    out = (
        counts.join(
            cc.select(F.col("doc_id").alias(cell_col), "group_id"), cell_col, "left"
        )
        .select(
            F.col(cell_col),
            F.coalesce(F.col("group_id"), F.col(cell_col)).alias("cluster_id"),
            F.col("n_points"),
        )
    )
    return out


def mass_col(weight_col: str | None) -> Column:
    """The shared collapse-to-frame aggregate: COUNT(*) or the integral
    weight sum — one definition for every tile/cell rollup (hotspot,
    smoothing, zonal, adaptive) so the integral-weight contract cannot
    drift between call sites."""
    return F.sum(F.col(weight_col)) if weight_col else F.count(F.lit(1))


def _fail_outside_grid(
    counts: DataFrame,
    x_col: str,
    y_col: str,
    hi_in: int,
    zoom: int,
    opname: str,
    value_col: str,
) -> DataFrame:
    """Shared fail-loud guard for tile-raster ops: INPUT tiles outside
    ``[0, hi_in]^2`` raise instead of being clipped — clipping would
    silently erase their mass (cf. the pyramid quadkey guard). Only
    scatter/halo TARGETS may fall off the grid edge."""
    oob = ~(F.col(x_col).between(0, hi_in) & F.col(y_col).between(0, hi_in))
    return counts.withColumn(
        value_col,
        F.when(
            oob,
            F.raise_error(
                F.concat(
                    F.lit(
                        f"{opname}: input tile outside "
                        f"[0, {hi_in}]^2 at zoom {zoom}: ("
                    ),
                    F.col(x_col),
                    F.lit(", "),
                    F.col(y_col),
                    F.lit(")"),
                )
            ),
        ).otherwise(F.col(value_col)),
    )


def smoothed_tile_density(
    tiled: DataFrame,
    x_col: str = "tile_x",
    y_col: str = "tile_y",
    zoom: int | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Binomial-kernel (3x3: [[1,2,1],[2,4,2],[1,2,1]] / 16) density
    convolution over a square tile grid — the heatmap raster every map
    renderer draws from point data (north-rule raster op — the reference
    has no spatial code; kernel is the classic separable binomial
    approximation of a Gaussian blur).

    Input: one row per point (or pre-weighted row) carrying integer
    Web-Mercator tile coords ``x_col``/``y_col`` (one zoom level, e.g.
    from webmercator.with_tiles). Output: one row per tile of the 3x3
    DILATION of the occupied set (the halo a heatmap needs), with

    - ``n_points``     raw count (or integral weight sum) at the tile
                       itself — 0 for halo tiles;
    - ``density_x16``  sum over the 3x3 neighborhood of count * kernel
                       weight, scaled by 16 so the contract stays
                       INTEGER-exact across engines (divide by 16.0 for
                       the float surface).

    Edge convention: when ``zoom`` is given, scatter targets outside
    ``[0, 2**zoom - 1]^2`` are dropped (no antimeridian x-wrap — same
    contract as bbox_tile_filter / zorder.zranges_for_bbox); edge tiles
    simply receive fewer contributions, the standard "zero-padding"
    convolution boundary. INPUT tiles outside the grid (e.g. computed at
    a deeper zoom than ``zoom``) fail loudly instead of being clipped —
    clipping would silently erase their mass.

    Plan (the 100 TB story): one map-side-combined groupBy collapses the
    raw points to the occupied-tile frame (bounded by 4**zoom, tiny for
    serving zooms); the convolution is a 9-way conditional explode of
    that SMALL frame plus one more groupBy — shuffle carries
    (x, y, weighted count) int64 triples only, never points. No join, no
    driver collect, nothing quadratic.
    """
    counts = tiled.groupBy(x_col, y_col).agg(
        mass_col(weight_col).cast("long").alias("n")
    )
    if zoom is not None:
        from fairy_core_spark.spatial.webmercator import _check_zoom

        hi_in = (1 << _check_zoom(zoom)) - 1
        # fail loudly on INPUT tiles outside the grid (e.g. tiles computed
        # at a deeper zoom): silently clipping them would erase their mass
        # — including their own n_points — with no error (cf. the pyramid
        # quadkey guard). Only HALO targets may fall off the grid edge.
        counts = _fail_outside_grid(
            counts, x_col, y_col, hi_in, zoom, "smoothed_tile_density", "n"
        )

    offsets = F.array(
        *[
            F.struct(
                F.lit(dx).alias("dx"),
                F.lit(dy).alias("dy"),
                F.lit((2 - abs(dx)) * (2 - abs(dy))).alias("w"),
            )
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    scattered = counts.select(
        F.explode(offsets).alias("o"), F.col(x_col), F.col(y_col), F.col("n")
    ).select(
        (F.col(x_col) + F.col("o.dx")).alias(x_col),
        (F.col(y_col) + F.col("o.dy")).alias(y_col),
        (F.col("n") * F.col("o.w")).alias("wn"),
        F.when((F.col("o.dx") == 0) & (F.col("o.dy") == 0), F.col("n"))
        .otherwise(F.lit(0))
        .alias("self_n"),
    )
    if zoom is not None:
        hi = (1 << int(zoom)) - 1
        scattered = scattered.where(
            F.col(x_col).between(0, hi) & F.col(y_col).between(0, hi)
        )
    return scattered.groupBy(x_col, y_col).agg(
        F.sum("self_n").alias("n_points"),
        F.sum("wn").alias("density_x16"),
    )


def idw_fill(
    tiled: DataFrame,
    x_col: str = "tile_x",
    y_col: str = "tile_y",
    zoom: int | None = None,
    weight_col: str | None = None,
    radius: int = 2,
) -> DataFrame:
    """Inverse-distance-weighted gap filling over a square tile grid —
    the raster interpolation step that estimates a surface value for
    EMPTY tiles from their occupied neighbours (north-rule raster op;
    the reference has no spatial code. Classic IDW, Shepard 1968, with
    the conventional power-2 weights w = 1/d^2).

    Input: one row per point (or pre-weighted row) carrying integer
    tile coords at one zoom (e.g. from webmercator.with_tiles). Output:
    one row per EMPTY tile within Chebyshev distance <= ``radius`` of
    at least one occupied tile, with

    - ``idw_num`` / ``idw_den``  INTEGER-exact scaled numerator and
      denominator: weights are ``L / d^2`` where ``L`` is the LCM of
      every squared distance in the disk, so ``L/d^2`` is an exact
      int64 and both sums are integers — the estimate is reproducible
      bit-for-bit across engines and aggregation orders (same contract
      trick as smoothed_tile_density's x16 kernel);
    - ``idw_value``  the float surface, ``ROUND(idw_num/idw_den, 6)``.

    Occupied tiles are NOT emitted (they have a measured value); empty
    tiles with no occupied neighbour in the disk are absent (no
    extrapolation beyond ``radius``). Edge convention matches
    smoothed_tile_density: with ``zoom``, scatter targets outside the
    grid are dropped, out-of-grid INPUT tiles fail loudly.

    Plan (the 100 TB story): one map-side-combined groupBy collapses
    points to the occupied-tile frame; the fill is a (2r+1)^2-offset
    conditional explode of that SMALL frame plus one more combined
    groupBy — shuffle carries (x, y, int64 partials) only, never
    points. No join, no driver collect, nothing quadratic."""
    if not 1 <= int(radius) <= 8:
        raise ValueError(f"radius must be in [1, 8], got {radius}")
    radius = int(radius)
    counts = tiled.groupBy(x_col, y_col).agg(
        mass_col(weight_col).cast("long").alias("n")
    )
    if zoom is not None:
        from fairy_core_spark.spatial.webmercator import _check_zoom

        hi = (1 << _check_zoom(zoom)) - 1
        counts = _fail_outside_grid(counts, x_col, y_col, hi, zoom, "idw_fill", "n")

    d2s = sorted(
        {
            dx * dx + dy * dy
            for dx in range(-radius, radius + 1)
            for dy in range(-radius, radius + 1)
            if (dx, dy) != (0, 0)
        }
    )
    lcm = math.lcm(*d2s)
    offsets = F.array(
        *[
            F.struct(
                F.lit(dx).alias("dx"),
                F.lit(dy).alias("dy"),
                F.lit(0 if (dx, dy) == (0, 0) else lcm // (dx * dx + dy * dy)).alias(
                    "w"
                ),
            )
            for dx in range(-radius, radius + 1)
            for dy in range(-radius, radius + 1)
        ]
    )
    scattered = counts.select(
        F.explode(offsets).alias("o"), F.col(x_col), F.col(y_col), F.col("n")
    ).select(
        (F.col(x_col) + F.col("o.dx")).alias(x_col),
        (F.col(y_col) + F.col("o.dy")).alias(y_col),
        (F.col("n") * F.col("o.w")).alias("nw"),
        F.col("o.w").alias("w"),
        F.when((F.col("o.dx") == 0) & (F.col("o.dy") == 0), F.col("n"))
        .otherwise(F.lit(0))
        .alias("self_n"),
    )
    if zoom is not None:
        hi = (1 << int(zoom)) - 1
        scattered = scattered.where(
            F.col(x_col).between(0, hi) & F.col(y_col).between(0, hi)
        )
    return (
        scattered.groupBy(x_col, y_col)
        .agg(
            F.sum("self_n").alias("self_n"),
            F.sum("nw").alias("idw_num"),
            F.sum("w").alias("idw_den"),
        )
        .where((F.col("self_n") == 0) & (F.col("idw_den") > 0))
        .select(
            x_col,
            y_col,
            "idw_num",
            "idw_den",
            F.round(F.col("idw_num") / F.col("idw_den"), 6).alias("idw_value"),
        )
    )


def morans_i(
    tiled: DataFrame,
    x_col: str = "tile_x",
    y_col: str = "tile_y",
    weight_col: str | None = None,
) -> DataFrame:
    """Global Moran's I over an occupied square tiling (Moran 1950,
    binary queen adjacency) — the one-number answer to "is activity
    spatially clustered, dispersed, or random", the global complement
    of the per-cell Gi* :func:`hotspot_cells`.

    Input: one row per point already carrying integer tile coordinates
    (``x_col``, ``y_col``; e.g. webmercator.with_tiles output). The
    statistic is computed over the OCCUPIED-cell population with
    w_ij = 1 for queen-adjacent (8-neighbor) occupied cells:

        I = (N / W) * sum_ij w_ij (x_i - mu)(x_j - mu) / sum_i (x_i - mu)^2

    Everything that decides the value is EXACT int64: deviations are
    pre-scaled by N (d_i = N*x_i - total, so mu never divides),
    ``num`` = sum of d_i*d_j over directed adjacent pairs, ``den`` =
    sum d_i^2, and I = (N*num) / (W*den) as the single final float
    division. Output is ONE row: ``(n_cells, total, w_pairs, num, den,
    morans_i)`` with ``morans_i`` NULL when there is no adjacency or no
    variance; an EMPTY input yields (0, 0, 0, 0, 0, NULL). Int64 range
    (the SUMS must fit, not just one product): with B = N * max-cell-
    count, the worst case is n_cells*num <= 8*N^2*B^2, so keep the
    max cell count below ~1e9 / N^2 — i.e. COARSEN THE ZOOM until the
    occupied-cell count N is small relative to per-cell mass (at N=1024
    occupied cells that allows ~10^3 points per cell; at N=64, ~2.6e5).
    Spark's non-ANSI long sum wraps silently past the bound, so it is
    the caller's contract, not a runtime check.

    Plan (the 100 TB story): points collapse to the occupied-cell frame
    in one map-side-combined groupBy; the global moments are a 1-row
    aggregate broadcast back; adjacency is a zero-Python codegen
    explode of 8 offsets over the cell frame joined back on the int
    tile key (8 edges/cell, linear); the pair products reduce in one
    final 1-row aggregate. No driver collect, nothing quadratic.
    """
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    counts = tiled.groupBy(x.alias("_cx"), y.alias("_cy")).agg(
        mass_col(weight_col).cast("long").alias("_n")
    )
    glob = counts.agg(
        F.count(F.lit(1)).alias("n_cells"), F.sum("_n").alias("total")
    )
    dev = counts.crossJoin(F.broadcast(glob)).select(
        "_cx",
        "_cy",
        "n_cells",
        "total",
        (F.col("n_cells") * F.col("_n") - F.col("total")).alias("_d"),
    )
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
            if (dx, dy) != (0, 0)
        ]
    )
    probes = dev.select(
        "_cx", "_cy", "_d", F.explode(offs).alias("_o")
    ).select(
        (F.col("_cx") + F.col("_o.dx")).alias("_nx"),
        (F.col("_cy") + F.col("_o.dy")).alias("_ny"),
        F.col("_d").alias("_da"),
    )
    pair_agg = (
        probes.join(
            dev.select(
                F.col("_cx").alias("_nx"),
                F.col("_cy").alias("_ny"),
                F.col("_d").alias("_db"),
            ),
            ["_nx", "_ny"],
        )
        .agg(
            F.count(F.lit(1)).alias("w_pairs"),
            F.coalesce(F.sum(F.col("_da") * F.col("_db")), F.lit(0)).alias("num"),
        )
    )
    den_agg = dev.agg(
        F.coalesce(F.sum(F.col("_d") * F.col("_d")), F.lit(0)).alias("den")
    )
    n = F.col("n_cells")
    w, num, den = (F.col(c) for c in ("w_pairs", "num", "den"))
    # n_cells/total come from glob (count 0 / sum NULL on empty input),
    # so an empty tiling yields (0, 0, 0, 0, 0, NULL) instead of NULLs.
    return (
        glob.crossJoin(F.broadcast(den_agg))
        .crossJoin(F.broadcast(pair_agg))
        .select(
            n,
            F.coalesce(F.col("total"), F.lit(0)).alias("total"),
            w,
            num,
            den,
            F.when(
                (w > 0) & (den > 0), (n * num).cast("double") / (w * den)
            ).alias("morans_i"),
        )
    )


def polygon_stats(
    polygons: DataFrame,
    id_col: str = "polygon_id",
    ring_col: str = "ring",
) -> DataFrame:
    """Exact planar polygon area + centroid (the shoelace / surveyor's
    formula) over a vector table — the per-feature summarization step of
    the vector side (feature audit, zonal weighting, label de-biasing by
    region size).

    Input: one row per polygon with ``ring_col`` an array of
    ``struct<x: long, y: long>`` INTEGER vertices (scaled coordinates,
    e.g. millidegrees; open ring — do not repeat vertex 0; at least 3
    vertices; simple, CCW for positive area). Integer vertices are the
    contract because every emitted moment is then EXACT int64 and
    engine-portable: ``area2`` = sum of cross products (twice the signed
    area), ``cx6``/``cy6`` = centroid numerators (6*A-scaled). The float
    centroid ``(cx6 / (3*area2), cy6 / (3*area2))`` is one final
    division per axis. Int64 bound (the SUMS must fit, not one term):
    each centroid term is |(x_i+x_j)*cross| <= 4*C^3 at |coord| <= C,
    so a V-vertex ring needs 4*V*C^3 < 2^63 — |coord| <= ~1e5 (e.g.
    centidegrees) is safe to V ~ 2*10^5 vertices; millidegree coords
    (C ~ 4e5) are safe only to V ~ 30. Spark's non-ANSI long sum wraps
    silently past the bound — scale coordinates down, not up.

    Plan: posexplode the ring, one window over (polygon) ordered by
    vertex position (lead + first_value closes the ring without a
    self-join), one map-side-combined groupBy on the polygon id — a
    single shuffle keyed by polygon, linear in total vertices; vertex
    arrays never move twice.
    """
    v = polygons.select(
        F.col(id_col),
        F.posexplode(F.col(ring_col)).alias("_pos", "_v"),
    ).select(
        id_col,
        "_pos",
        F.col("_v.x").cast("long").alias("_x"),
        F.col("_v.y").cast("long").alias("_y"),
    )
    w = Window.partitionBy(id_col).orderBy("_pos")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    nx = F.coalesce(F.lead("_x").over(w), F.first("_x").over(wfull))
    ny = F.coalesce(F.lead("_y").over(w), F.first("_y").over(wfull))
    cross = F.col("_x") * ny - nx * F.col("_y")
    terms = v.select(
        id_col,
        cross.alias("_c"),
        ((F.col("_x") + nx) * cross).alias("_cx"),
        ((F.col("_y") + ny) * cross).alias("_cy"),
    )
    agg = terms.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_vertices"),
        F.sum("_c").alias("area2"),
        F.sum("_cx").alias("cx6"),
        F.sum("_cy").alias("cy6"),
    )
    a2 = F.col("area2")
    return agg.select(
        id_col,
        "n_vertices",
        "area2",
        "cx6",
        "cy6",
        F.when(a2 != 0, F.col("cx6").cast("double") / (3 * a2)).alias("centroid_x"),
        F.when(a2 != 0, F.col("cy6").cast("double") / (3 * a2)).alias("centroid_y"),
    )


def convex_hulls(
    points: DataFrame,
    group_col: str = "group_id",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Per-group convex hull (Andrew's monotone chain, 1979) — the
    bounding-geometry summarizer: coverage footprint per entity /
    cluster / tile-region, the vector complement of the per-group
    centroid sums.

    Input coordinates must be INTEGERS with |coord| < 2^30 (scaled
    degrees/meters): every turn test is then an exact int64 cross
    product — no epsilon, no float flap, bit-identical on any engine
    or partitioning. Collinear boundary points are DROPPED (strict
    turns only), so the hull is the minimal vertex set; degenerate
    groups come out naturally (1 point -> 1 vertex, collinear set ->
    its 2 extremes).

    Output: ``(group, seq, x, y)`` — hull vertices in counter-clockwise
    order, seq 0-based, starting from the lexicographically smallest
    (x, y) vertex. Deterministic by construction.

    Plan (the 100 TB story): one shuffle groups each entity's points
    (``applyInPandas`` — the chain scan is sequential per group,
    genuinely not Column algebra). Points are pre-deduplicated and
    sorted with numpy; the chain walk is O(n) after the sort. Output is
    hull-sized (tiny); input points never shuffle twice. Groups are
    independent — parallelism = group count; pathological single groups
    are bounded upstream by tiling (hull of a tile's points, then hull
    of hulls: the operator composes associatively for that hierarchical
    form).
    """
    import numpy as np
    import pandas as pd

    gt = points.schema[group_col].dataType.simpleString()
    out_schema = f"`{group_col}` {gt}, seq long, `{x_col}` long, `{y_col}` long"

    def _hull(pdf: pd.DataFrame) -> pd.DataFrame:
        pts = np.unique(
            pdf[[x_col, y_col]].to_numpy(dtype="int64"), axis=0
        )  # sorted lexicographically by (x, y), duplicates gone
        if np.abs(pts).max(initial=0) >= (1 << 30):
            raise ValueError("convex_hulls: |coordinate| must be < 2^30")
        n = len(pts)
        if n <= 2:
            hull = pts
        else:
            def _chain(order):
                out: list[int] = []
                for i in order:
                    while len(out) >= 2:
                        ax, ay = pts[out[-2]]
                        bx, by = pts[out[-1]]
                        cross = (bx - ax) * (pts[i, 1] - ay) - (by - ay) * (
                            pts[i, 0] - ax
                        )
                        if cross <= 0:  # clockwise or collinear: pop
                            out.pop()
                        else:
                            break
                    out.append(i)
                return out

            lower = _chain(range(n))
            upper = _chain(range(n - 1, -1, -1))
            hull = pts[lower[:-1] + upper[:-1]]
        out = pd.DataFrame(
            {
                group_col: [pdf[group_col].iloc[0]] * len(hull),
                "seq": np.arange(len(hull), dtype="int64"),
                x_col: hull[:, 0],
                y_col: hull[:, 1],
            }
        )
        return out

    return (
        points.select(group_col, x_col, y_col)
        .groupBy(group_col)
        .applyInPandas(_hull, out_schema)
    )


def source_tile_concentration(
    points: DataFrame,
    zoom: int,
    source_col: str = "source",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Geographic-concentration audit per source: how spread out is each
    crawl/provider's footprint over Web-Mercator tiles?

    Output per source, all exact int64:

    - ``n_points`` / ``n_tiles`` — volume and occupied-tile breadth,
    - ``hhi_num`` — the Herfindahl numerator ``sum(n_tile^2)``
      (``hhi = hhi_num / n_points^2``, left to the caller so the stored
      number stays integer-exact; safe below ~3e9 rows per source —
      beyond that pre-aggregate at a coarser zoom),
    - ``max_tile_n`` / ``max_share_permille`` — the hottest tile and
      its exact ``floor(max * 1000 / n_points)`` share.

    The signal behind per-source geo-balance decisions (a source whose
    max_share_permille ~ 1000 is a single-city crawl; quota it by tile,
    not just by domain). Plan: tile math in codegen, then TWO combined
    aggregates — (source, tile) partials bound the first shuffle's wire
    at occupied-tile cardinality, the second is source-cardinality.
    No Python, no windows, no joins.
    """
    from fairy_core_spark.spatial.webmercator import tile_x_col, tile_y_col

    per_tile = (
        points.select(
            F.col(source_col).alias("source"),
            tile_x_col(F.col(lon_col), zoom).alias("x"),
            tile_y_col(F.col(lat_col), zoom).alias("y"),
        )
        .groupBy("source", "x", "y")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return per_tile.groupBy("source").agg(
        F.sum("n").alias("n_points"),
        F.count(F.lit(1)).alias("n_tiles"),
        F.sum(F.col("n") * F.col("n")).alias("hhi_num"),
        F.max("n").alias("max_tile_n"),
        F.floor(F.max("n") * F.lit(1000) / F.sum("n"))
        .cast("long")
        .alias("max_share_permille"),
    )


def snap_points_to_segments(
    points: DataFrame,
    segments: DataFrame,
    zoom: int,
    *,
    halo: int = 1,
    scale_bits: int = 20,
    with_progress: bool = False,
    point_id_col: str = "point_id",
    seg_id_col: str = "seg_id",
) -> DataFrame:
    """Map matching: snap each point to its nearest road segment within a
    bounded tile radius — the GPS->road-network primitive behind
    trajectory cleaning, odometry and "which street is this photo on".

    Inputs carry BOTH representations of each coordinate: doubles
    (``lat``/``lon``, ``lat0..lon1``) drive the shared slippy-tile
    assignment, and planar INTEGER coordinates (``px``/``py``,
    ``ax``/``ay``/``bx``/``by`` — e.g. millidegrees, derived exactly from
    keys or by rounding) drive the distance math, so the snap decision is
    integer-exact and engine-portable (no IEEE min-flap can change a
    winner).

    Candidates come from the tile index: segments rasterize to their
    8-connected DDA tile set (``webmercator.rasterize_segments``),
    dilated by ``halo`` rings; a point sees exactly the segments whose
    dilated set covers its tile. That bounds the search radius to
    ``halo`` tile-widths by CONTRACT (a segment further away than the
    dilation is out of scope — the standard bounded-radius map-match),
    and bounds the join fan-out by road density per tile, not by n*m.

    Scoring is the squared point-to-segment distance as an exact
    integer: with w = p - a, d = b - a (int64-safe products), the
    clamped-projection fraction num/l2 (num = w2*l2 - tnum^2 inside the
    segment, endpoint forms at the clamps; Cauchy-Schwarz keeps num >=
    0) is quantized once as ``dist_q = (num << scale_bits) div l2`` in
    DECIMAL(38,0) — floor division, never a rounded decimal quotient, so
    both engines get the identical integer. Winner per point = MIN
    (dist_q, seg_id).

    Plan at 10^12 points: the road side (tile set, dilated) is the small
    side — broadcast equi-join on the tile key; the per-point top-1 is
    one window exchange that WindowGroupLimit partially aggregates
    map-side. Points that hit no dilated road tile drop out (bounded
    radius); no cross join anywhere.

    Output: (point_id, seg_id, dist_q) — one row per matched point;
    ``with_progress=True`` appends ``progress_permille`` (exact integer
    linear-referencing position of the snap along the segment).
    """
    from pyspark.sql import Window as W

    from fairy_core_spark.spatial.webmercator import (
        rasterize_segments,
        tile_x_col,
        tile_y_col,
    )

    n = 1 << zoom
    rast = rasterize_segments(segments, zoom, id_col=seg_id_col)
    offs = [(dx, dy) for dx in range(-halo, halo + 1) for dy in range(-halo, halo + 1)]
    off_df = rast.sparkSession.createDataFrame(offs, "dx int, dy int")
    seg_tiles = (
        rast.crossJoin(F.broadcast(off_df))
        .select(
            seg_id_col,
            (F.col("tile_x") + F.col("dx")).alias("tile_x"),
            (F.col("tile_y") + F.col("dy")).alias("tile_y"),
        )
        .where(
            (F.col("tile_x") >= 0) & (F.col("tile_x") < n)
            & (F.col("tile_y") >= 0) & (F.col("tile_y") < n)
        )
        .dropDuplicates([seg_id_col, "tile_x", "tile_y"])
    )
    seg_geom = segments.select(seg_id_col, "ax", "ay", "bx", "by")
    cand = (
        points.select(
            point_id_col,
            tile_x_col(F.col("lon"), zoom).alias("tile_x"),
            tile_y_col(F.col("lat"), zoom).alias("tile_y"),
            "px",
            "py",
        )
        .join(F.broadcast(seg_tiles), ["tile_x", "tile_y"])
        .join(F.broadcast(seg_geom), seg_id_col)
    )
    dx = F.col("bx") - F.col("ax")
    dy = F.col("by") - F.col("ay")
    wx = F.col("px") - F.col("ax")
    wy = F.col("py") - F.col("ay")
    scored = cand.select(
        point_id_col,
        seg_id_col,
        (dx * dx + dy * dy).alias("l2"),
        (wx * dx + wy * dy).alias("tnum"),
        (wx * wx + wy * wy).alias("w2"),
        ((F.col("px") - F.col("bx")) * (F.col("px") - F.col("bx"))
         + (F.col("py") - F.col("by")) * (F.col("py") - F.col("by"))).alias("v2"),
    )
    dec = "DECIMAL(38,0)"
    num = (
        F.when(F.col("l2") == 0, F.col("w2").cast(dec) * F.lit(1).cast(dec))
        .when(F.col("tnum") <= 0, F.col("w2").cast(dec) * F.col("l2").cast(dec))
        .when(F.col("tnum") >= F.col("l2"), F.col("v2").cast(dec) * F.col("l2").cast(dec))
        .otherwise(
            F.col("w2").cast(dec) * F.col("l2").cast(dec)
            - F.col("tnum").cast(dec) * F.col("tnum").cast(dec)
        )
    )
    den = F.when(F.col("l2") == 0, F.lit(1).cast(dec)).otherwise(F.col("l2").cast(dec))
    q = (
        scored.withColumn("_num", num)
        .withColumn("_den", den)
        .withColumn(
            "dist_q",
            F.expr(f"CAST(_num * {1 << scale_bits} AS DECIMAL(38,0)) div _den"),
        )
    )
    w = W.partitionBy(point_id_col).orderBy("dist_q", seg_id_col)
    picked = q.withColumn("rk", F.row_number().over(w)).where(F.col("rk") == 1)
    cols = [point_id_col, seg_id_col, F.col("dist_q").cast("long").alias("dist_q")]
    if with_progress:
        # linear referencing: how far along the matched segment the snap
        # lands, as exact integer permille of the segment's parameter —
        # clamp(tnum, 0, l2) * 1000 div l2 (degenerate segments -> 0)
        tcl = F.greatest(F.lit(0), F.least(F.col("tnum"), F.col("l2")))
        picked = picked.withColumn(
            "_tc", tcl.cast("decimal(38,0)") * F.lit(1000)
        ).withColumn(
            "progress_permille",
            F.when(F.col("l2") == 0, F.lit(0).cast("long")).otherwise(
                F.expr("_tc div CAST(l2 AS DECIMAL(38,0))")
            ),
        )
        cols.append(F.col("progress_permille").cast("long").alias("progress_permille"))
    return picked.select(*cols)


def isolated_points(
    points: DataFrame,
    zoom: int,
    *,
    halo: int = 1,
    max_per_tile: int | None = None,
    point_id_col: str = "point_id",
) -> DataFrame:
    """Spatial isolation / outlier audit: for every point, its nearest
    OTHER point within a ``halo``-ring tile neighborhood — in exact
    integer planar coordinates — or an explicit "no neighbor in range"
    marker. The geocoding-error / lone-sample detector: a photo whose
    nearest companion is hundreds of km away is usually a bad geotag.

    Same bounded-radius contract as :func:`snap_points_to_segments`:
    candidates are pairs sharing a tile after one side dilates by
    ``halo`` rings, so the search radius is ``halo`` tile-widths by
    construction and the join fan-out is bounded by local density —
    never n². A point with NO in-range companion gets ``nn_id = -1``,
    ``nn_dist_q = -1``, ``isolated = true`` (sentinels, not NULLs, so
    downstream filters and cross-engine hashes stay total).

    Inputs carry doubles (``lat``/``lon`` — tile assignment) and planar
    INTEGER ``px``/``py`` (e.g. millidegrees — distance math). The
    nearest-neighbor winner is MIN over exact int64 squared distance
    with id tie-break; ``nn_dist_q = dx² + dy²`` exactly (no scaling
    needed — point distances carry no denominator).

    ``max_per_tile`` is the density guard (colocation-style, explicit
    rather than hoped-for): a tile holding more than the cap GUARANTEES
    every member an in-tile neighbor, so its members resolve trivially
    (``nn_id = -2``, ``nn_dist_q = -1``, ``isolated = false`` — "dense
    tile, neighbor certain, identity not computed") and are excluded
    from BOTH sides of the candidate join. Without it, one stadium/
    hotspot cell quadratic-blows the join at web scale; with it, the
    join is linear in sub-cap density, and sparse points' answers are
    "nearest among sub-cap-tile points" (the dense remainder could only
    have answered a question the cap already answered). ``None`` (the
    default, and the gate contract) keeps the exact semantics.

    Plan at 10^12 points: tile both sides (projection), explode ONE side
    by the (2*halo+1)² offsets (codegen), self-equi-join on the tile
    key, min-by per point via one WindowGroupLimit exchange, left join
    back for the isolated remainder. Shuffles carry (id, tile, two
    int64s); AQE splits sub-cap skew.
    """
    from pyspark.sql import Window as W

    from fairy_core_spark.spatial.webmercator import tile_x_col, tile_y_col

    n = 1 << zoom
    tiled = points.select(
        F.col(point_id_col).alias("pid"),
        tile_x_col(F.col("lon"), zoom).alias("tx"),
        tile_y_col(F.col("lat"), zoom).alias("ty"),
        F.col("px").cast("long").alias("px"),
        F.col("py").cast("long").alias("py"),
    )
    dense_rows = None
    if max_per_tile is not None:
        if max_per_tile < 2:
            raise ValueError(
                f"max_per_tile must be >= 2 (or None), got {max_per_tile}"
            )
        wt = W.partitionBy("tx", "ty")
        tiled = tiled.withColumn("_tn", F.count(F.lit(1)).over(wt))
        dense_rows = (
            tiled.where(F.col("_tn") > max_per_tile)
            .select(
                F.col("pid").alias(point_id_col),
                F.lit(-2).cast("long").alias("nn_id"),
                F.lit(-1).cast("long").alias("nn_dist_q"),
                F.lit(False).alias("isolated"),
            )
        )
        tiled = tiled.where(F.col("_tn") <= max_per_tile).drop("_tn")
    offs = [(dx, dy) for dx in range(-halo, halo + 1) for dy in range(-halo, halo + 1)]
    off_df = tiled.sparkSession.createDataFrame(offs, "dx int, dy int")
    probe = (
        tiled.crossJoin(F.broadcast(off_df))
        .select(
            F.col("pid").alias("nid"),
            (F.col("tx") + F.col("dx")).alias("tx"),
            (F.col("ty") + F.col("dy")).alias("ty"),
            F.col("px").alias("nx"),
            F.col("py").alias("ny"),
        )
        .where((F.col("tx") >= 0) & (F.col("tx") < n)
               & (F.col("ty") >= 0) & (F.col("ty") < n))
    )
    cand = tiled.join(probe, ["tx", "ty"]).where(F.col("pid") != F.col("nid"))
    d2 = (
        (F.col("px") - F.col("nx")) * (F.col("px") - F.col("nx"))
        + (F.col("py") - F.col("ny")) * (F.col("py") - F.col("ny"))
    )
    w = W.partitionBy("pid").orderBy("d2", "nid")
    nearest = (
        cand.select("pid", "nid", d2.alias("d2"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("pid", F.col("nid").alias("nn_id"), F.col("d2").alias("nn_dist_q"))
    )
    out = (
        tiled.select("pid")
        .join(nearest, "pid", "left")
        .select(
            F.col("pid").alias(point_id_col),
            F.coalesce("nn_id", F.lit(-1)).cast("long").alias("nn_id"),
            F.coalesce("nn_dist_q", F.lit(-1)).cast("long").alias("nn_dist_q"),
            F.col("nn_id").isNull().alias("isolated"),
        )
    )
    if dense_rows is not None:
        out = out.unionByName(dense_rows)
    return out


def annotate_in_polygon_with_holes(
    df: DataFrame,
    rings: list,
    lat_col: str = "lat",
    lon_col: str = "lon",
    out: str = "in_zone",
) -> DataFrame:
    """Row-preserving containment flag against ONE polygon-with-holes
    (outer ring + hole rings, the GeoJSON polygon model) via the
    even-odd multi-ring kernel (functions/geometry.
    point_in_polygon_with_holes) — donut zones (a coverage area minus an
    exclusion) that a plain single-ring PIP cannot express. The ring
    list broadcasts inside the Arrow closure; the flag is a zero-shuffle
    projection, same plan shape as the PIP annotation hot path."""
    import numpy as _np

    from fairy_core_spark.functions.geometry import point_in_polygon_with_holes

    ring_arrays = [_np.asarray(r, dtype=_np.float64) for r in rings]
    in_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    schema = f"{in_schema}, {out} boolean"

    def run(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            lat = pdf[lat_col].to_numpy(_np.float64)
            lon = pdf[lon_col].to_numpy(_np.float64)
            res = pdf.copy()
            res[out] = point_in_polygon_with_holes(lat, lon, ring_arrays)
            yield res

    return df.mapInPandas(run, schema=schema)
