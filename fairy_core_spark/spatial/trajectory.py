"""Trajectory / movement analytics over timestamped point streams.

Per-entity path statistics — the movement-data staple (fleet telemetry,
device pings, photo-EXIF tracks) — as pure Column math: haversine hop
distances via a window lag, reduced per entity. No reference impl — the
reference has no spatial code (north-rule component).

Cross-engine determinism contract (same discipline as
`spatial/webmercator.py`): deg->rad is an explicit multiply by one
shared double; hop distances are rounded to integer meters BEFORE the
sum, so the per-entity total is an int64 sum — associative, immune to
aggregation order — instead of a float sum whose low bits depend on
partial-aggregation order. The only libm crossings are sin/cos/asin/
sqrt inside a single hop, bounded by the half-meter rounding slack.

At 100 TB: ONE shuffle per call — the window partitions by the entity
and sorts by (ts, tiebreaker); the closing groupBy reuses the exact same
partitioning, so Catalyst plans it shuffle-free on top of the window's
sort. State per row in flight: two lagged doubles.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_DEG2RAD = math.pi / 180.0

# IUGG mean Earth radius (meters) — the public standard constant
R_EARTH_M = 6371008.8


def haversine_m(
    lat1: Column, lon1: Column, lat2: Column, lon2: Column
) -> Column:
    """Great-circle distance in meters (double) — the published haversine
    formula, sqrt argument clamped to [0, 1] against rounding overshoot
    at antipodes."""
    d2r = F.lit(_DEG2RAD)
    p1, p2 = lat1 * d2r, lat2 * d2r
    sdphi = F.sin((lat2 - lat1) * d2r / F.lit(2.0))
    sdlmb = F.sin((lon2 - lon1) * d2r / F.lit(2.0))
    a = sdphi * sdphi + F.cos(p1) * F.cos(p2) * sdlmb * sdlmb
    return (
        F.lit(2.0 * R_EARTH_M)
        * F.asin(F.sqrt(F.least(F.greatest(a, F.lit(0.0)), F.lit(1.0))))
    )


def path_stats(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    lat_col: str = "lat",
    lon_col: str = "lon",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Per-entity movement summary: one row per entity with

    - ``n_points`` — points observed
    - ``n_hops`` — consecutive-point segments (n_points - 1)
    - ``path_m`` — traveled distance: sum of per-hop integer meters
    - ``net_m`` — first-point -> last-point displacement, integer meters
      (``path_m >= net_m`` up to the per-hop rounding slack)

    ``tiebreak_col`` makes the visit order total when timestamps can
    tie (REQUIRED for deterministic results on tied data — pass the
    event id). First/last coordinates ride the same window sort as the
    lag, so the whole operator costs one shuffle.
    """
    order = [F.col(ts_col)] + ([F.col(tiebreak_col)] if tiebreak_col else [])
    w = Window.partitionBy(entity_col).orderBy(*order)
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    lat, lon = F.col(lat_col), F.col(lon_col)
    hop = F.when(
        F.lag(lat).over(w).isNotNull(),
        F.round(haversine_m(F.lag(lat).over(w), F.lag(lon).over(w), lat, lon), 0)
        .cast("long"),
    )
    hopped = df.select(
        F.col(entity_col),
        hop.alias("hop_m"),
        F.first(lat).over(w_full).alias("flat"),
        F.first(lon).over(w_full).alias("flon"),
        F.last(lat).over(w_full).alias("llat"),
        F.last(lon).over(w_full).alias("llon"),
    )
    return (
        hopped.groupBy(entity_col)
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.count("hop_m").alias("n_hops"),
            F.coalesce(F.sum("hop_m"), F.lit(0)).cast("long").alias("path_m"),
            F.max("flat").alias("_flat"),
            F.max("flon").alias("_flon"),
            F.max("llat").alias("_llat"),
            F.max("llon").alias("_llon"),
        )
        .select(
            entity_col,
            "n_points",
            "n_hops",
            "path_m",
            F.round(
                haversine_m(
                    F.col("_flat"), F.col("_flon"), F.col("_llat"), F.col("_llon")
                ),
                0,
            )
            .cast("long")
            .alias("net_m"),
        )
    )


def od_matrix(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    loc_col: str = "quadkey",
    bucket_col: str | None = None,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Origin-destination flow matrix: each (entity[, bucket]) group is
    one trip from its FIRST location to its LAST (by visit order); flows
    aggregate trips per (origin, dest) — the transport/mobility staple
    over any location key (quadkey, hex cell, region id).

    Output: (origin, dest, n_trips). Single-point trips count as
    origin == dest self-flows (callers filter if unwanted).

    Plan: the first/last window, the one-row-per-trip dropDuplicates
    (its keys are a superset of the window's partition keys — no new
    shuffle), then ONE flow groupBy. Two shuffles total; the flow
    shuffle carries only (origin, dest) pairs.
    """
    parts = [entity_col] + ([bucket_col] if bucket_col else [])
    order = [F.col(ts_col)] + ([F.col(tiebreak_col)] if tiebreak_col else [])
    w = (
        Window.partitionBy(*parts)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    trips = df.select(
        *[F.col(c) for c in parts],
        F.first(loc_col).over(w).alias("origin"),
        F.last(loc_col).over(w).alias("dest"),
    ).dropDuplicates(parts)
    return trips.groupBy("origin", "dest").agg(
        F.count(F.lit(1)).alias("n_trips")
    )


def dwell_episodes(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    region_col: str = "region",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Region-visit episodes (geofence dwell): consecutive same-region
    runs in each entity's visit order become one episode — the classic
    gaps-and-islands shape. Rows whose ``region_col`` is NULL (outside
    every region) break episodes but never form one.

    Output: one row per (entity, episode) — ``episode_seq`` (1-based in
    enter order), ``region``, ``enter_ts``, ``exit_ts``, ``n_points``,
    ``dwell_us`` (exit - enter in exact integer microseconds; engines
    disagree on fractional-second flooring, integers can't).

    Everything is exact integer/comparison math — no floats anywhere, so
    any SQL engine replays it bit-for-bit. Plan: ONE shuffle — the
    boundary-flag window, the episode-id running sum, the episode
    groupBy, and the enter-order row_number all ride the same
    entity-hash partitioning (groupBy keys are a superset of the
    window's partition key; Catalyst recognizes the co-location).
    """
    order = [F.col(ts_col)] + ([F.col(tiebreak_col)] if tiebreak_col else [])
    w = Window.partitionBy(entity_col).orderBy(*order)
    region = F.col(region_col)
    # boundary when region differs from the previous row's (null-safe)
    is_new = (~region.eqNullSafe(F.lag(region).over(w))).cast("long")
    eid = F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0))
    flagged = df.select(
        F.col(entity_col), F.col(ts_col), region.alias("region"), eid.alias("_eid")
    ).where(F.col("region").isNotNull())
    per_entity = Window.partitionBy(entity_col).orderBy("enter_ts", "_eid")
    return (
        flagged.groupBy(entity_col, "_eid", "region")
        .agg(
            F.min(ts_col).alias("enter_ts"),
            F.max(ts_col).alias("exit_ts"),
            F.count(F.lit(1)).alias("n_points"),
        )
        .select(
            entity_col,
            F.row_number().over(per_entity).alias("episode_seq"),
            "region",
            "enter_ts",
            "exit_ts",
            "n_points",
            # cast covers TIMESTAMP_NTZ sources (UTC session tz — exact)
            (
                F.unix_micros(F.col("exit_ts").cast("timestamp"))
                - F.unix_micros(F.col("enter_ts").cast("timestamp"))
            ).alias("dwell_us"),
        )
    )


def colocation_pairs(
    df: DataFrame,
    entity_col: str = "user_id",
    loc_col: str = "quadkey",
    bucket_col: str = "bucket",
    min_shared: int = 1,
    max_entities_per_key: int | None = 1000,
) -> DataFrame:
    """Spatiotemporal co-occurrence: pairs of DISTINCT entities observed
    in the same (location, time-bucket) key, with the number of shared
    keys per pair — the contact-tracing / co-visitation staple over any
    location key (quadkey, hex cell, region id) and any pre-computed
    time bucket (hour, day).

    Output: (entity_a, entity_b, n_shared) with ``entity_a < entity_b``
    (one canonical row per unordered pair) and ``n_shared >=
    min_shared``.

    Plan + skew story (what decides 100 TB viability): presence dedup
    FIRST — one distinct to (loc, bucket, entity), so raw ping volume
    never reaches the join — then a self-equi-join on (loc, bucket). A
    key with k present entities emits k(k-1)/2 pairs: quadratic by the
    NATURE of the question, so the guard is explicit rather than
    hoped-for — keys whose entity count exceeds
    ``max_entities_per_key`` are dropped entirely (standard co-location
    practice: a stadium cell says nothing about contact, and one
    100k-entity cell would emit 5e9 pairs). The count rides a window
    over the presence frame's own (loc, bucket) grouping; pass ``None``
    to disable. Downstream the pair groupBy carries only (id, id)
    tuples. AQE splits whatever sub-cap skew remains in the self-join.
    """
    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1, got {min_shared}")
    if max_entities_per_key is not None and max_entities_per_key < 2:
        raise ValueError(
            f"max_entities_per_key must be >= 2 (or None), got {max_entities_per_key}"
        )
    # drop NULL-entity pings BEFORE the presence distinct: they can never
    # form a pair (the a < b predicate is never true for NULL) but would
    # count toward the hot-key cap — one anonymous ping could otherwise
    # evict a legitimate at-cap key and silently erase its real pairs
    pres = df.where(F.col(entity_col).isNotNull()).select(
        F.col(loc_col).alias("__loc"),
        F.col(bucket_col).alias("__bkt"),
        F.col(entity_col).alias("__ent"),
    ).distinct()
    if max_entities_per_key is not None:
        k = F.count(F.lit(1)).over(Window.partitionBy("__loc", "__bkt"))
        pres = pres.withColumn("__k", k).where(
            F.col("__k") <= max_entities_per_key
        ).drop("__k")
    a = pres.select("__loc", "__bkt", F.col("__ent").alias("entity_a"))
    b = pres.select("__loc", "__bkt", F.col("__ent").alias("entity_b"))
    pairs = a.join(b, ["__loc", "__bkt"]).where(
        F.col("entity_a") < F.col("entity_b")
    )
    out = pairs.groupBy("entity_a", "entity_b").agg(
        F.count(F.lit(1)).alias("n_shared")
    )
    if min_shared > 1:
        out = out.where(F.col("n_shared") >= min_shared)
    return out


def _dp_keep_mask(x, y, tol):
    """Iterative Douglas-Peucker keep-mask over local-meter coords.

    Uses point-to-SEGMENT distance (t clamped to [0,1]) — the robust
    variant: degenerate closed loops (equal endpoints) fall back to
    point distance instead of dividing by a zero-length line.
    """
    import numpy as np

    n = len(x)
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[n - 1] = True
    stack = [(0, n - 1)]
    tol2 = tol * tol
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        dx, dy = x[j] - x[i], y[j] - y[i]
        seg2 = dx * dx + dy * dy
        xs, ys = x[i + 1 : j], y[i + 1 : j]
        if seg2 == 0.0:
            d2 = (xs - x[i]) ** 2 + (ys - y[i]) ** 2
        else:
            t = ((xs - x[i]) * dx + (ys - y[i]) * dy) / seg2
            t = np.clip(t, 0.0, 1.0)
            d2 = (xs - (x[i] + t * dx)) ** 2 + (ys - (y[i] + t * dy)) ** 2
        m = int(d2.argmax())
        if d2[m] > tol2:
            k = i + 1 + m
            keep[k] = True
            stack.append((i, k))
            stack.append((k, j))
    return keep


def simplify_paths(
    df: DataFrame,
    entity_col: str = "user_id",
    order_col: str = "ts",
    lat_col: str = "lat",
    lon_col: str = "lon",
    tolerance_m: float = 50.0,
    max_points: int = 100_000,
) -> DataFrame:
    """Per-entity trajectory simplification (Douglas & Peucker 1973) —
    the standard polyline-compression step before storing or rendering
    GPS tracks: drop every point that lies within ``tolerance_m`` of
    the simplified path, keep the geometry.

    Geometry: points project to a local equirectangular meter frame per
    trajectory (y = R*dlat, x = R*dlon*cos(lat0) around the first
    point) — exact enough for the city-to-country track lengths this is
    for; perpendicular distance is to the SEGMENT (clamped), so closed
    loops and spikes behave. Ordering inside an entity is
    (order_col, lat, lon) — fully deterministic under timestamp ties.

    Contract: first and last points are always kept; every dropped
    point is within ``tolerance_m`` of the kept polyline; output is
    ``(entity, order, lat, lon, seq)`` with ``seq`` the 0-based index
    along the simplified path. tolerance_m <= 0 keeps everything.

    Plan (the 100 TB story): one shuffle groups each entity's points
    (``applyInPandas`` — the recursion is data-dependent, genuinely not
    expressible in Column algebra; Arrow-batched, no per-row Python).
    Entities are independent, so parallelism = entity count. A
    pathological entity wider than ``max_points`` is processed in
    consecutive chunks with shared endpoints — bounded executor memory,
    still deterministic, and the tolerance bound still holds (chunk
    boundaries are always kept; the kept SET may differ from the
    unchunked run's because the recursion anchors differ, but every
    dropped point stays within tolerance of the kept polyline).
    Pre-bucket by (entity, day) upstream when single entities run to
    millions of points.
    """
    import numpy as np
    import pandas as pd

    if max_points < 2:
        raise ValueError("max_points must be >= 2")
    ent_field = df.schema[entity_col]
    ord_field = df.schema[order_col]
    out_schema = (
        f"`{entity_col}` {ent_field.dataType.simpleString()}, "
        f"`{order_col}` {ord_field.dataType.simpleString()}, "
        f"`{lat_col}` double, `{lon_col}` double, seq long"
    )
    R = R_EARTH_M
    tol = float(tolerance_m)

    def _simplify(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([order_col, lat_col, lon_col], kind="mergesort")
        lat = pdf[lat_col].to_numpy(dtype="float64")
        lon = pdf[lon_col].to_numpy(dtype="float64")
        n = len(pdf)
        if n <= 2 or tol <= 0:
            keep = np.ones(n, dtype=bool)
        else:
            lat0 = lat[0]
            y = np.radians(lat - lat0) * R
            x = np.radians(lon - lon[0]) * (R * math.cos(math.radians(lat0)))
            keep = np.zeros(n, dtype=bool)
            for lo in range(0, n - 1, max_points - 1):
                hi = min(lo + max_points - 1, n - 1)
                keep[lo : hi + 1] |= _dp_keep_mask(
                    x[lo : hi + 1], y[lo : hi + 1], tol
                )
        out = pdf.loc[keep, [entity_col, order_col, lat_col, lon_col]].copy()
        out["seq"] = np.arange(int(keep.sum()), dtype="int64")
        return out

    return df.select(entity_col, order_col, lat_col, lon_col).groupBy(
        entity_col
    ).applyInPandas(_simplify, out_schema)


def compass_sector(dx: Column, dy: Column) -> Column:
    """Exact-integer 8-sector compass bucket for a displacement
    (``dx`` = eastward, ``dy`` = northward, any integer unit).

    The sectors are the 45-degree-rotated octants — boundaries at the
    axes and diagonals, where EXACT integer rules exist (no atan2, no
    tan(22.5) irrational): ``|dx| > |dy|`` is E/W by sign(dx),
    ``|dy| > |dx|`` is N/S by sign(dy), the exact diagonal
    ``|dx| == |dy|`` is NE/SE/NW/SW by both signs. Deterministic and
    bit-identical across engines by construction; callers filter the
    zero displacement (this returns 'SW' for it, vacuously).
    """
    adx, ady = F.abs(dx), F.abs(dy)
    return (
        F.when(adx > ady, F.when(dx > 0, "E").otherwise("W"))
        .when(ady > adx, F.when(dy > 0, "N").otherwise("S"))
        .otherwise(
            F.when((dx > 0) & (dy > 0), "NE")
            .when(dx > 0, "SE")
            .when(dy > 0, "NW")
            .otherwise("SW")
        )
    )


def flow_sector_rollup(
    df: DataFrame,
    zoom: int,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    lat_col: str = "lat",
    lon_col: str = "lon",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Per-tile movement-flow histogram: consecutive per-entity hops
    bucketed into exact 8-sector compass directions, rolled up on the
    START point's Web-Mercator tile — the flow-map / traffic-direction
    staple over movement streams (fleet pings, photo-EXIF tracks).

    Output: ``(x, y, sector, n_moves, dx_sum, dy_sum)`` — counts plus
    the NET displacement vector per (tile, sector), all exact int64
    millidegrees. Determinism contract: positions quantize to integer
    millidegrees first (round-half-up, the shared engine discipline),
    so deltas, sector tests and sums are pure integer arithmetic —
    bit-identical across engines and partitionings. Zero-displacement
    hops (same millidegree cell) are dropped. int64 sum bound:
    |dx| <= 360000, safe below ~2.5e13 moves per (tile, sector).

    Plan (100 TB): ONE entity-keyed window shuffle (lead carries two
    int64s), then ONE combined groupBy on (x, y, sector) whose
    map-side partials shrink the wire to output cardinality; tile +
    sector math is whole-stage codegen between them. No Python.
    """
    from fairy_core_spark.spatial.webmercator import tile_x_col, tile_y_col

    order = [F.col(ts_col)] + ([F.col(tiebreak_col)] if tiebreak_col else [])
    w = Window.partitionBy(entity_col).orderBy(*order)
    seq = df.select(
        F.col(entity_col),
        *([F.col(ts_col)] + ([F.col(tiebreak_col)] if tiebreak_col else [])),
        F.col(lat_col).alias("_lat"),
        F.col(lon_col).alias("_lon"),
        F.round(F.col(lat_col) * 1000, 0).cast("long").alias("_mlat"),
        F.round(F.col(lon_col) * 1000, 0).cast("long").alias("_mlon"),
    ).select(
        "*",
        F.lead("_mlat").over(w).alias("_mlat2"),
        F.lead("_mlon").over(w).alias("_mlon2"),
    )
    moves = seq.where(
        F.col("_mlat2").isNotNull()
        & ~((F.col("_mlat2") == F.col("_mlat")) & (F.col("_mlon2") == F.col("_mlon")))
    )
    dx = F.col("_mlon2") - F.col("_mlon")
    dy = F.col("_mlat2") - F.col("_mlat")
    return (
        moves.select(
            tile_x_col(F.col("_lon"), zoom).alias("x"),
            tile_y_col(F.col("_lat"), zoom).alias("y"),
            compass_sector(dx, dy).alias("sector"),
            dx.alias("_dx"),
            dy.alias("_dy"),
        )
        .groupBy("x", "y", "sector")
        .agg(
            F.count(F.lit(1)).alias("n_moves"),
            F.sum("_dx").alias("dx_sum"),
            F.sum("_dy").alias("dy_sum"),
        )
    )


def tile_visit_cadence(
    df: DataFrame,
    zoom: int,
    ts_col: str = "ts",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Per-tile visit cadence: how often does fresh data land on each
    Web-Mercator tile? The freshness/staleness signal behind
    change-detection scheduling ("re-crawl tiles whose median
    inter-arrival beats X") and collection-gap audits.

    Output per tile with >= 2 events, all exact int64 microseconds:
    ``n_visits``, ``n_gaps`` (= n_visits - 1), ``median_gap_us`` (LOW
    median — the value at rank floor((n+1)/2) of the sorted gaps, so no
    averaging, no floats), ``min_gap_us``, ``max_gap_us``.

    Determinism: gaps are consecutive differences of the SORTED
    event-time sequence per tile — a multiset that does not depend on
    how equal timestamps are ordered — and the median rank picks a
    VALUE, so the result is deterministic without any tiebreaker.

    Plan (100 TB): tile math in codegen; ONE shuffle on (x, y) that
    both window passes reuse (lag by event time, then rank/count/
    min/max over gaps — same partitioning, Catalyst plans one
    exchange). Wire carries (x, y, int64); no joins, no Python.
    """
    from fairy_core_spark.spatial.webmercator import tile_x_col, tile_y_col

    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    seq = df.select(
        tile_x_col(F.col(lon_col), zoom).alias("x"),
        tile_y_col(F.col(lat_col), zoom).alias("y"),
        us.alias("_us"),
    )
    w_lag = Window.partitionBy("x", "y").orderBy("_us")
    w_tile = Window.partitionBy("x", "y")
    gaps = (
        seq.select(
            "x",
            "y",
            F.count(F.lit(1)).over(w_tile).alias("n_visits"),
            (F.col("_us") - F.lag("_us").over(w_lag)).alias("gap"),
        )
        .where(F.col("gap").isNotNull())
    )
    w_rank = Window.partitionBy("x", "y").orderBy("gap")
    ranked = gaps.select(
        "x",
        "y",
        "n_visits",
        "gap",
        F.row_number().over(w_rank).alias("_rn"),
        F.count(F.lit(1)).over(w_tile).alias("n_gaps"),
        F.min("gap").over(w_tile).alias("min_gap_us"),
        F.max("gap").over(w_tile).alias("max_gap_us"),
    )
    return ranked.where(
        F.col("_rn")
        == F.floor((F.col("n_gaps") + 1) / F.lit(2.0)).cast("long")
    ).select(
        "x",
        "y",
        "n_visits",
        "n_gaps",
        F.col("gap").alias("median_gap_us"),
        "min_gap_us",
        "max_gap_us",
    )


def resample_tracks(
    df: DataFrame,
    *,
    interval_us: int,
    max_gap_intervals: int = 8,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    order_col: str = "event_id",
    x_col: str = "px",
    y_col: str = "py",
) -> DataFrame:
    """Fixed-grid track resampling: for every consecutive ping pair of an
    entity, emit the track's linearly interpolated position at each
    global grid instant (multiples of ``interval_us`` epoch-micros) in
    the half-open interval (t0, t1] — the time-normalization step
    upstream of speed profiles, track alignment and co-movement mining,
    where raw pings arrive at arbitrary cadence.

    Integer-exact and engine-portable: positions are planar INTEGER
    coordinates (millidegrees, pixels); the interpolation
    ``x0 + floor((x1-x0)*(gt-t0) / (t1-t0))`` is computed as exact int64
    floor-division (the positive-mod adjustment makes the numerator
    exactly divisible before ``div``, so truncation == floor even for
    negative deltas — bit-identical to an engine whose ``//`` floors).
    The grid bounds floor-align the same way (``t - pmod(t, g)``), so
    pre-1970 (negative) epochs stay inside (t0, t1].

    Gaps longer than ``max_gap_intervals`` grid steps emit NOTHING —
    interpolating across a silence of days is fiction, and the guard
    also bounds the per-pair explode at exactly ``max_gap_intervals``
    rows, so a 100 TB run's output is at most that multiple of its ping
    count. Pairs at identical timestamps are skipped (the next pair
    covers the instant; ordering ties break on ``order_col`` so both
    engines pick the same segment).

    Plan: ONE window exchange on the entity key (lead), then pure
    codegen sequence/explode + integer math — no joins, no Python.

    Output: (entity, grid_us, x, y) with the caller's column names.
    """
    g = int(interval_us)
    if g <= 0:
        raise ValueError(f"interval_us must be positive, got {interval_us}")
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    base = df.select(
        F.col(entity_col).alias("ent"),
        us.alias("t"),
        F.col(x_col).cast("long").alias("x0"),
        F.col(y_col).cast("long").alias("y0"),
        F.col(order_col).alias("ord"),
    )
    w = Window.partitionBy("ent").orderBy("t", "ord")
    nxt = (
        base.withColumn("t1", F.lead("t").over(w))
        .withColumn("x1", F.lead("x0").over(w))
        .withColumn("y1", F.lead("y0").over(w))
        .where(F.col("t1") > F.col("t"))
        .where((F.col("t1") - F.col("t")) <= F.lit(g * max_gap_intervals))
    )
    grid = (
        nxt.withColumn("gstart", F.expr(f"t - pmod(t, {g}) + {g}"))
        .withColumn("gend", F.expr(f"t1 - pmod(t1, {g})"))
        .where(F.col("gstart") <= F.col("gend"))
        .select(
            "ent", "t", "t1", "x0", "y0", "x1", "y1",
            F.explode(
                F.sequence(F.col("gstart"), F.col("gend"), F.lit(g))
            ).alias("gt"),
        )
    )
    interp = grid.withColumn("_nx", (F.col("x1") - F.col("x0")) * (F.col("gt") - F.col("t"))) \
        .withColumn("_ny", (F.col("y1") - F.col("y0")) * (F.col("gt") - F.col("t"))) \
        .withColumn("_den", F.col("t1") - F.col("t")) \
        .withColumn("_qx", F.expr("(_nx - pmod(_nx, _den)) div _den")) \
        .withColumn("_qy", F.expr("(_ny - pmod(_ny, _den)) div _den"))
    return interp.select(
        F.col("ent").alias(entity_col),
        F.col("gt").alias("grid_us"),
        (F.col("x0") + F.col("_qx")).alias(x_col),
        (F.col("y0") + F.col("_qy")).alias(y_col),
    )
