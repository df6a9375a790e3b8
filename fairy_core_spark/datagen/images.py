"""Deterministic synthetic image+caption / geo / polygon tables
(FIXTURES.md §B; the north-rule input shape from BASELINE.json:input_hint).

Everything derives from sha256(image_id) — never wall-clock or RNG state —
so goldens and benchmarks are reproducible across machines and runs, and
generation is embarrassingly parallel: the table is built distributed with
``spark.range(n)`` + ``mapInPandas`` (each partition synthesizes its own
rows; nothing is collected on the driver), which is how a 10^9-row bench
table would be produced on a real cluster.

Schema (mandated): image_id:string, bytes:binary, w:int, h:int, fmt:string,
caption:string, phash:long. Geo companion: (image_id, lat, lon) with 10%% of
rows remapped into 3 hotspot clusters (skew-handling exercise). Polygons:
~100 regular k-gons + 2 large hotspot-covering polygons, broadcastable.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from fairy_core_spark.functions.image_codec import LOSSY_FMTS, encode_image
from fairy_core_spark.functions.phash import phash64

IMAGE_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long"
)
GEO_SCHEMA = "image_id string, lat double, lon double"

_FMTS = ("ppm", "png", "qnt")
_SIZES = (32, 48, 64)
_TOKENS = (
    "harbor",
    "granite",
    "lantern",
    "meadow",
    "osprey",
    "quarry",
    "rivulet",
    "saffron",
    "tundra",
    "verdant",
)

# fixed hotspot centers (lat, lon) — dense clusters for skew exercises
HOTSPOTS = ((40.71, -74.01), (51.51, -0.13), (35.68, 139.69))


def _unit_floats(image_id: str, n: int = 4) -> list[float]:
    """n uniform floats in [0,1) from sha256(image_id)."""
    d = hashlib.sha256(image_id.encode()).digest()
    return [int.from_bytes(d[4 * i : 4 * i + 4], "big") / 2**32 for i in range(n)]


def make_pixels(image_id: str, w: int, h: int) -> np.ndarray:
    """w*h*3 uint8 gradient + per-image offset — reproducible, non-constant."""
    d = hashlib.sha256(image_id.encode()).digest()
    ox, oy, oc = d[0], d[1], d[2]
    y, x = np.mgrid[0:h, 0:w]
    r = (x * 255 // max(w - 1, 1) + ox) % 256
    g = (y * 255 // max(h - 1, 1) + oy) % 256
    b = ((x + y) * 255 // max(w + h - 2, 1) + oc) % 256
    return np.stack([r, g, b], axis=-1).astype(np.uint8)


def make_pixels_stack(image_ids: list[str], w: int, h: int) -> np.ndarray:
    """Vectorized :func:`make_pixels` for N same-sized images ->
    (N, h, w, 3) uint8. Bit-identical to the scalar path (per-image
    sha256 offsets broadcast over one shared gradient)."""
    n = len(image_ids)
    offs = np.empty((n, 3), dtype=np.uint8)
    for i, iid in enumerate(image_ids):  # sha256 is the per-image part; ~1us each
        d = hashlib.sha256(iid.encode()).digest()
        offs[i] = d[0], d[1], d[2]
    y, x = np.mgrid[0:h, 0:w]
    # uint8 add wraps mod 256 — matches the scalar (grad + off) % 256 exactly
    rg = (x * 255 // max(w - 1, 1)).astype(np.uint8)
    gg = (y * 255 // max(h - 1, 1)).astype(np.uint8)
    bg = ((x + y) * 255 // max(w + h - 2, 1)).astype(np.uint8)
    out = np.empty((n, h, w, 3), dtype=np.uint8)
    out[..., 0] = rg[None] + offs[:, 0, None, None]
    out[..., 1] = gg[None] + offs[:, 1, None, None]
    out[..., 2] = bg[None] + offs[:, 2, None, None]
    return out


def synth_image_row(i: int, dirty: str | None = None) -> dict:
    """One deterministic row. Every 1000th row (i%1000==999) duplicates the
    previous row's pixels under a new image_id (phash-dedup exercise).
    ``dirty`` injects a validation defect (stage-1 golden variants)."""
    image_id = f"img{i:010d}"
    src_i = i - 1 if (i % 1000 == 999 and i > 0) else i
    src_id = f"img{src_i:010d}"
    w = _SIZES[src_i % len(_SIZES)]
    h = _SIZES[(src_i // 3) % len(_SIZES)]
    fmt = _FMTS[src_i % len(_FMTS)]
    pixels = make_pixels(src_id, w, h)
    data = encode_image(pixels, fmt)
    # phash is defined over the *stored* content: for lossy fmts hash the
    # decoded (quantized) pixels so the integrity rule (recompute==stored)
    # is exact for every format
    from fairy_core_spark.functions.image_codec import decode_image

    ph = phash64(decode_image(data, fmt))
    toks = [_TOKENS[(src_i >> (3 * k)) % len(_TOKENS)] for k in range(3)]
    caption = f"caption for {image_id}: " + " ".join(toks)
    row = {
        "image_id": image_id,
        "bytes": bytearray(data),
        "w": w,
        "h": h,
        "fmt": fmt,
        "caption": caption,
        "phash": ph,
    }
    if dirty == "null_caption":
        row["caption"] = None
    elif dirty == "dim_mismatch":
        row["w"] = w + 1
    elif dirty == "truncated":
        row["bytes"] = bytearray(data[: len(data) // 2])
    elif dirty == "bad_fmt":
        row["fmt"] = "jpeg"
    return row


def synth_image_rows_batch(ids: list[int], dirty_every: int | None = None) -> pd.DataFrame:
    """Vectorized :func:`synth_image_row` over a batch of row ids —
    bit-identical output (asserted by tests/test_images.py), ~5x faster:
    pixels come from :func:`make_pixels_stack` per (w, h) group and phash
    from :func:`phash64_stack`, so the per-image Python work is just the
    codec encode call.

    The decode step of the scalar path is skipped *provably*: ppm/png are
    lossless (decode(encode(p)) == p exactly) and qnt's decode is the
    closed-form (p >> 2) * 4 + 2, applied here directly before hashing."""
    from collections import defaultdict

    from fairy_core_spark.functions.phash import phash64_stack

    recs = []
    for i in ids:
        i = int(i)
        src_i = i - 1 if (i % 1000 == 999 and i > 0) else i
        w = _SIZES[src_i % len(_SIZES)]
        h = _SIZES[(src_i // 3) % len(_SIZES)]
        fmt = _FMTS[src_i % len(_FMTS)]
        recs.append((i, src_i, w, h, fmt))
    rows: dict[int, dict] = {}
    groups: defaultdict[tuple[int, int], list] = defaultdict(list)
    for r in recs:
        groups[(r[2], r[3])].append(r)
    for (w, h), rs in groups.items():
        stack = make_pixels_stack([f"img{r[1]:010d}" for r in rs], w, h)
        fmts = [r[4] for r in rs]
        ph = np.zeros(len(rs), dtype=np.int64)
        lossless = [k for k, f in enumerate(fmts) if f not in LOSSY_FMTS]
        lossy = [k for k, f in enumerate(fmts) if f in LOSSY_FMTS]
        if lossless:
            ph[lossless] = phash64_stack(stack[lossless])
        if lossy:  # qnt: hash the stored (quantized) pixels, closed form
            q = ((stack[lossy] >> 2).astype(np.uint16) * 4 + 2).clip(0, 255).astype(np.uint8)
            ph[lossy] = phash64_stack(q)
        for k, (i, src_i, w_, h_, fmt) in enumerate(rs):
            image_id = f"img{i:010d}"
            data = encode_image(stack[k], fmt)
            toks = [_TOKENS[(src_i >> (3 * kk)) % len(_TOKENS)] for kk in range(3)]
            row = {
                "image_id": image_id,
                "bytes": bytearray(data),
                "w": w_,
                "h": h_,
                "fmt": fmt,
                "caption": f"caption for {image_id}: " + " ".join(toks),
                "phash": int(ph[k]),
            }
            if dirty_every and i % dirty_every == dirty_every - 1:
                dirty = ("null_caption", "dim_mismatch", "truncated", "bad_fmt")[
                    (i // dirty_every) % 4
                ]
                if dirty == "null_caption":
                    row["caption"] = None
                elif dirty == "dim_mismatch":
                    row["w"] = w_ + 1
                elif dirty == "truncated":
                    row["bytes"] = bytearray(data[: len(data) // 2])
                elif dirty == "bad_fmt":
                    row["fmt"] = "jpeg"
            rows[i] = row
    return pd.DataFrame([rows[int(i)] for i in ids])


def geo_for(image_id: str) -> tuple[float, float]:
    """Deterministic lat/lon; 10% of ids remapped into hotspot clusters."""
    u1, u2, u3, u4 = _unit_floats(image_id)
    if u3 < 0.10:
        clat, clon = HOTSPOTS[int(u4 * len(HOTSPOTS)) % len(HOTSPOTS)]
        return clat + (u1 - 0.5) * 0.2, clon + (u2 - 0.5) * 0.2
    return -60.0 + 120.0 * u1, -180.0 + 360.0 * u2


def images_df(
    spark: SparkSession, n: int, partitions: int | None = None, dirty_every: int | None = None
) -> DataFrame:
    """Distributed synthesis of the image table (no driver materialization)."""
    parts = partitions or max(8, spark.sparkContext.defaultParallelism)
    base = spark.range(0, n, 1, parts)

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = pdf["id"].tolist()
            if ids:
                yield synth_image_rows_batch(ids, dirty_every)

    return base.mapInPandas(gen, schema=IMAGE_SCHEMA)


def geo_df(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    parts = partitions or max(8, spark.sparkContext.defaultParallelism)
    base = spark.range(0, n, 1, parts)

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = [f"img{int(i):010d}" for i in pdf["id"].tolist()]
            lat, lon = zip(*(geo_for(x) for x in ids)) if ids else ((), ())
            yield pd.DataFrame({"image_id": ids, "lat": lat, "lon": lon})

    return base.mapInPandas(gen, schema=GEO_SCHEMA)


def polygons_pdf(n: int = 100) -> pd.DataFrame:
    """Deterministic polygon set as a pandas frame (small, broadcastable):
    regular k-gons (k in [4,9]) on a fixed grid + 2 large hotspot polygons.
    Rings are closed (first point repeated last), counter-clockwise."""
    rows = []
    for p in range(n):
        k = 4 + p % 6
        gx, gy = p % 10, p // 10
        clat = -50.0 + 10.0 * gy + (p % 3)
        clon = -170.0 + 34.0 * gx + (p % 5)
        radius = 0.5 + 2.5 * ((p * 2654435761 % 1000) / 1000.0)
        ang = 2 * np.pi * np.arange(k) / k + (p % 7) * 0.1
        ring = [
            {"lat": float(clat + radius * np.sin(a)), "lon": float(clon + radius * np.cos(a))}
            for a in ang
        ]
        ring.append(ring[0])
        rows.append({"polygon_id": f"poly{p:04d}", "ring": ring})
    for j, (clat, clon) in enumerate(HOTSPOTS[:2]):
        k, radius = 8, 1.5
        ang = 2 * np.pi * np.arange(k) / k
        ring = [
            {"lat": float(clat + radius * np.sin(a)), "lon": float(clon + radius * np.cos(a))}
            for a in ang
        ]
        ring.append(ring[0])
        rows.append({"polygon_id": f"hotspot{j}", "ring": ring})
    return pd.DataFrame(rows)


def low_info_images_df(
    spark: SparkSession, n_solid: int = 12, n_spike: int = 4
) -> DataFrame:
    """Deterministic degenerate specials for the low-information filter
    (operators/images.flag_low_information): ``n_solid`` constant 16x16
    PPMs (channel value ``(s*17) % 256`` — the ``near_solid`` branch) and
    ``n_spike`` almost-constant PPMs (value ``(s*31) % 200`` with ONE
    channel bumped +16 at pixel (0,0) — range 16 > 8 but per-pixel
    variance ~1/3, the ``low_variance`` branch). The main gradient table
    never triggers either branch, so without these the flag would only
    ever prove the identity transform. Closed-form moments (n=768,
    sum=768v[+16], sqsum=768v^2[+32v+256]) let an external oracle replay
    them without decoding. Tiny (driver-side createDataFrame) but encoded
    through the same PPM path as the main table."""
    from fairy_core_spark.functions.image_codec import encode_image
    from fairy_core_spark.functions.phash import phash64

    rows = []
    for s in range(n_solid):
        v = (s * 17) % 256
        px = np.full((16, 16, 3), v, dtype=np.uint8)
        data = encode_image(px, "ppm")
        rows.append(
            (f"solid{s:04d}", bytearray(data), 16, 16, "ppm",
             f"caption for solid{s:04d}: flat field", phash64(px))
        )
    for s in range(n_spike):
        v = (s * 31) % 200
        px = np.full((16, 16, 3), v, dtype=np.uint8)
        px[0, 0, 0] = v + 16
        data = encode_image(px, "ppm")
        rows.append(
            (f"spike{s:04d}", bytearray(data), 16, 16, "ppm",
             f"caption for spike{s:04d}: flat field one spike", phash64(px))
        )
    return spark.createDataFrame(rows, schema=IMAGE_SCHEMA)


def rotated_images_df(spark: SparkSession, n_groups: int = 8) -> DataFrame:
    """Planted dihedral-duplicate groups for rotation-invariant dedup:
    group ``g`` regenerates the main table's image ``src_i = 37*g + 1``
    from the datagen spec and emits FIVE variants under fresh ids
    (``rot{g:03d}v{v}``): the original pixels, three quarter-turns and
    the mirror — one orbit the dihedral-min key must collapse while
    plain phash sees five different hashes. PPM-encoded (lossless) so
    the stored pixels are exactly the transforms."""
    from fairy_core_spark.functions.image_codec import encode_image
    from fairy_core_spark.functions.phash import phash64

    rows = []
    for g in range(n_groups):
        src_i = 37 * g + 1
        src_id = f"img{src_i:010d}"
        w = _SIZES[src_i % len(_SIZES)]
        h = _SIZES[(src_i // 3) % len(_SIZES)]
        base = make_pixels(src_id, w, h)
        variants = [
            base,
            np.rot90(base),
            np.rot90(base, 2),
            np.rot90(base, 3),
            base[:, ::-1],
        ]
        for v, px in enumerate(variants):
            px = np.ascontiguousarray(px)
            data = encode_image(px, "ppm")
            hh, ww, _ = px.shape
            rows.append(
                (f"rot{g:03d}v{v}", bytearray(data), ww, hh, "ppm",
                 f"caption for rot{g:03d}v{v}: dihedral variant", phash64(px))
            )
    return spark.createDataFrame(rows, schema=IMAGE_SCHEMA)
