"""Image stage-1 validation + phash dedup goldens (SURVEY.md §5 item 3):
exact violation counts on a deterministically-dirty table, PSNR invariant,
phash dup groups at the fixture's 1-in-1000 duplication rate."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from fairy_core_spark.datagen.images import images_df, make_pixels, synth_image_row
from fairy_core_spark.functions.image_codec import decode_image, encode_image, psnr_db
from fairy_core_spark.functions.phash import hamming64, phash64
from fairy_core_spark.operators.images import with_image_checks

N = 400
DIRTY_EVERY = 50  # i%50==49 -> dirty, cycling null_caption/dim_mismatch/truncated/bad_fmt


@pytest.fixture(scope="module")
def checked(spark):
    imgs = images_df(spark, N, partitions=4, dirty_every=DIRTY_EVERY)
    return with_image_checks(imgs).cache()


def _dirty_ids(kind_index: int) -> set[str]:
    out = set()
    for i in range(N):
        if i % DIRTY_EVERY == DIRTY_EVERY - 1 and (i // DIRTY_EVERY) % 4 == kind_index:
            out.add(f"img{i:010d}")
    return out


def test_decode_failures_exactly_truncated_and_badfmt(checked):
    bad = {r["image_id"] for r in checked.where(~F.col("decode_ok")).collect()}
    assert bad == _dirty_ids(2) | _dirty_ids(3)  # truncated + bad_fmt


def test_dim_mismatch_flagged(checked):
    bad = {
        r["image_id"]
        for r in checked.where(F.col("decode_ok") & ~F.col("dims_ok")).collect()
    }
    assert bad == _dirty_ids(1)


def test_null_captions_flagged(checked):
    bad = {r["image_id"] for r in checked.where(~F.col("caption_ok")).collect()}
    assert bad == _dirty_ids(0)


def test_phash_integrity_holds_for_clean_rows(checked):
    clean = checked.where(
        F.col("decode_ok") & F.col("dims_ok") & F.col("caption_ok")
    )
    n_bad_phash = clean.where(~F.col("phash_ok")).count()
    assert n_bad_phash == 0


def test_psnr_invariant(checked):
    clean = checked.where(F.col("decode_ok") & F.col("dims_ok"))
    assert clean.where(~F.col("psnr_ok")).count() == 0


def test_psnr_math():
    px = make_pixels("imgX", 48, 48)
    lossy = decode_image(encode_image(px, "qnt"), "qnt")
    assert 40.0 <= psnr_db(px, lossy) < 60.0
    assert psnr_db(px, px) == float("inf")


def test_phash_dedup_duplicate_rows(spark):
    # rows i%1000==999 duplicate the previous row's pixels under a new id
    imgs = images_df(spark, 2000, partitions=4)
    from fairy_core_spark.operators.dedup import phash_exact_dups

    groups = phash_exact_dups(imgs).collect()
    # 2 planted dup pairs in 2000 rows (999, 1999); allow rare collisions
    keepers = {r["keeper_id"] for r in groups}
    assert "img0000000998" in keepers
    assert "img0000001998" in keepers


def test_phash_hamming_near_dup():
    a = make_pixels("imgA", 64, 64)
    b = a.copy()
    b[:2, :2, :] = 0  # tiny perturbation
    ha = np.array([phash64(a)])
    hb = np.array([phash64(b)])
    assert hamming64(ha, hb)[0] <= 6
    c = make_pixels("imgC", 64, 64)
    assert hamming64(ha, np.array([phash64(c)]))[0] > 6


def test_synth_row_deterministic():
    r1, r2 = synth_image_row(123), synth_image_row(123)
    assert r1 == r2


def test_custom_reference_shape_mismatch_is_per_row(spark):
    """A custom reference_pixels returning a wrong-shaped array must mark
    that row psnr_ok=False (scalar-path semantics), never raise inside the
    Arrow UDF and fail the whole task; a None reference passes by default."""
    imgs = images_df(spark, 40, partitions=2)

    def bad_shape_ref(image_id, w, h):
        if image_id.endswith("1"):
            return np.zeros((h + 1, w, 3), dtype=np.uint8)  # wrong shape
        if image_id.endswith("2"):
            return None  # no reference
        return make_pixels(image_id, w, h)

    out = with_image_checks(imgs, reference_pixels=bad_shape_ref)
    rows = {r["image_id"]: r["psnr_ok"] for r in out.collect()}
    assert rows  # ran without task failure
    for iid, ok in rows.items():
        if iid.endswith("1"):
            assert not ok, f"{iid}: wrong-shape reference must fail psnr"
        else:
            assert ok, f"{iid}: clean/None reference must pass"


def test_batch_synth_bit_identical_to_scalar():
    """synth_image_rows_batch (the mapInPandas fast path) must reproduce
    synth_image_row byte-for-byte — the frozen IMAGE_PHASH_3000 golden and
    the hand-derived image_validate oracle both depend on it. Covers the
    dup boundary (i=999 copies 998's pixels) and all four dirty variants."""
    from fairy_core_spark.datagen.images import synth_image_rows_batch

    ids = list(range(0, 40)) + list(range(995, 1005)) + list(range(2990, 3000))
    batch = synth_image_rows_batch(ids, dirty_every=50)
    for k, i in enumerate(ids):
        dirty = None
        if i % 50 == 49:
            dirty = ("null_caption", "dim_mismatch", "truncated", "bad_fmt")[(i // 50) % 4]
        ref = synth_image_row(i, dirty)
        got = batch.iloc[k].to_dict()
        for col in ("image_id", "w", "h", "fmt", "caption", "phash"):
            assert got[col] == ref[col], (i, col)
        assert bytes(got["bytes"]) == bytes(ref["bytes"]), (i, "bytes")


def test_phash_dup_keeper_planted_groups(spark):
    """Two planted components (one via a Hamming-1 bridge) + a singleton:
    keeper = max w*h, ties -> min id; singleton absent; drop list exact."""
    from fairy_core_spark.operators.dedup import phash_dup_keeper

    rows = [
        # component 1: a==b exactly, c one bit away from b -> {a, b, c}
        ("a", 0x1111, 10, 10),
        ("b", 0x1111, 20, 20),   # biggest -> keeper
        ("c", 0x1110, 20, 20),   # same px as b, id 'c' > 'b' loses the tie
        # component 2: exact pair, equal px -> min id keeps
        ("d", 0xF0F0F0F0, 8, 8),
        ("e", 0xF0F0F0F0, 8, 8),
        # singleton: far from everything
        ("z", 0x0F0F0F0F0F0F0F0F, 99, 99),
    ]
    df = spark.createDataFrame(rows, "image_id string, phash long, w int, h int")
    got = {
        r["image_id"]: (r["group_id"], r["keeper_id"], r["is_keeper"])
        for r in phash_dup_keeper(df).collect()
    }
    assert set(got) == {"a", "b", "c", "d", "e"}  # singleton z absent
    assert got["a"] == ("a", "b", 0)
    assert got["b"] == ("a", "b", 1)
    assert got["c"] == ("a", "b", 0)
    assert got["d"] == ("d", "d", 1)
    assert got["e"] == ("d", "d", 0)


def test_caption_phash_consistency_planted(spark):
    """Planted groups on both sides: consistent + inconsistent phash
    groups, an inconsistent caption group, singletons absent."""
    from fairy_core_spark.operators.images import caption_phash_consistency

    rows = [
        # phash 1: two copies, SAME body -> consistent
        ("a", 1, "caption for a: sunset beach"),
        ("b", 1, "caption for b: sunset beach"),
        # phash 2: two copies, DIFFERENT bodies -> inconsistent
        ("c", 2, "caption for c: a cat"),
        ("d", 2, "caption for d: a dog"),
        # caption group "stock photo" across phashes 3 and 4 -> inconsistent
        ("e", 3, "caption for e: stock photo"),
        ("f", 4, "caption for f: stock photo"),
        # singleton everything
        ("g", 5, "caption for g: unique"),
        # null caption ignored
        ("h", 1, None),
    ]
    df = spark.createDataFrame(rows, "image_id string, phash long, caption string")
    got = {
        (r.kind, r.key): (r.n_members, r.n_distinct_other, r.is_consistent)
        for r in caption_phash_consistency(df).collect()
    }
    assert got[("phash", "1")] == (2, 1, 1)
    assert got[("phash", "2")] == (2, 2, 0)
    assert got[("caption", "sunset beach")] == (2, 1, 1)  # dup on BOTH sides
    assert got[("caption", "stock photo")] == (2, 2, 0)
    assert ("phash", "5") not in got and ("caption", "unique") not in got
    assert ("phash", "3") not in got  # singleton phash groups absent
    assert len(got) == 4


def _png_with_filters(pixels: np.ndarray, filters: list[int]) -> bytes:
    """A PNG of ``pixels`` whose row y carries filter byte filters[y]: Up
    (2) rows store the byte difference to the row above, others store the
    row as is."""
    import struct
    import zlib

    from fairy_core_spark.functions.image_codec import _PNG_SIG, _chunk

    h, w, _ = pixels.shape
    flat = pixels.reshape(h, w * 3)
    above = np.vstack([np.zeros((1, w * 3), dtype=np.uint8), flat[:-1]])
    rows = np.zeros((h, 1 + w * 3), dtype=np.uint8)
    rows[:, 0] = filters
    rows[:, 1:] = np.where(np.array(filters)[:, None] == 2, flat - above, flat)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    idat = zlib.compress(rows.tobytes(), 6)
    return _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def test_png_up_filter_round_trips_and_unknown_filter_fails_decode(spark):
    """Up-filtered rows (first row, a run of them, one after a None row)
    decode to the original pixels, through the codec and through
    with_image_checks; an unsupported filter byte (3, Average) fails only
    its own row's decode_ok."""
    row = synth_image_row(7)
    w, h = row["w"], row["h"]
    pixels = decode_image(bytes(row["bytes"]), row["fmt"])
    filters = [2, 2, 2, 0, 2] + [0, 2] * (h // 2)
    filters = filters[:h]
    assert filters.count(2) >= 3
    up_png = _png_with_filters(pixels, filters)
    assert np.array_equal(decode_image(up_png, "png"), pixels)

    bad_png = _png_with_filters(pixels, [0, 3] + [0] * (h - 2))
    with pytest.raises(ValueError, match="unsupported PNG filter 3"):
        decode_image(bad_png, "png")

    base = {k: row[k] for k in ("w", "h", "caption", "phash")}
    rows = [
        {**base, "image_id": "up", "bytes": bytearray(up_png), "fmt": "png"},
        {**base, "image_id": "avg", "bytes": bytearray(bad_png), "fmt": "png"},
    ]
    schema = images_df(spark, 1).schema
    df = spark.createDataFrame([tuple(r[f] for f in schema.names) for r in rows], schema)
    got = {
        r["image_id"]: (r["decode_ok"], r["phash_ok"])
        for r in with_image_checks(df, reference_pixels=lambda *_: None).collect()
    }
    assert got == {"up": (True, True), "avg": (False, False)}


# 32x32 PPM rows of the 3000-image datagen table (i % 9 == 0 picks ppm at
# w = h = 32; row 999 is the planted dup of a 64x48 image, not one of them)
_PPM32_IDS = [f"img{i:010d}" for i in range(0, 3000, 9) if i % 1000 != 999]


@pytest.mark.parametrize("direction", [np.inf, -np.inf])
def test_phash_ties_do_not_follow_last_ulp_rounding(monkeypatch, direction):
    """Square datagen images carry exact ties in the DCT block
    (c[k,l] == c[l,k] for k,l >= 1); float64 rounding, which differs per
    BLAS kernel and so per CPU, must not decide them. A 1-ulp nudge of
    every DCT basis entry stands in for a different CPU's rounding."""
    from fairy_core_spark.datagen.images import make_pixels_stack
    from fairy_core_spark.functions import phash

    stack = make_pixels_stack(_PPM32_IDS, 32, 32)
    assert len(stack) == 333
    base = phash.phash64_stack(stack)
    nudged = np.nextafter(phash._dct_matrix(32), direction)
    monkeypatch.setitem(phash._DCT_CACHE, 32, nudged)
    moved = [iid for iid, a, b in zip(_PPM32_IDS, base, phash.phash64_stack(stack)) if a != b]
    assert moved == [], f"{len(moved)} of {len(stack)} hashes follow the rounding"


def test_phash_symmetric_tie_sets_neither_bit():
    # img0000000126: coefficients (3,7) and (7,3) are equal and hold the
    # 32nd/33rd sorted places, so both equal the median -> bits 32 and 4 clear
    h = synth_image_row(126)["phash"]
    assert (h >> 32) & 1 == 0
    assert (h >> 4) & 1 == 0


def _phash_exact(pixels: np.ndarray) -> int:
    """The written pHash recipe at 40 significant digits: integer BT.601
    luma (299r + 587g + 114b)/1000, block mean (or nearest-index) pool to
    32x32, orthonormal DCT-II, top-left 8x8, bit iff coeff > median. The
    positive luma/pool scale is dropped (it cannot move a bit); a gap under
    1e-30 of max|block| is a tie of the exact values, 21 orders of magnitude
    below the smallest genuine gap on the datagen corpus (2.4e-9)."""
    mp = pytest.importorskip("mpmath")
    px = pixels.astype(np.int64)
    gray = 299 * px[..., 0] + 587 * px[..., 1] + 114 * px[..., 2]
    h, w = gray.shape
    if h % 32 or w % 32:
        yi = (np.arange(32) * h // 32).clip(0, h - 1)
        xi = (np.arange(32) * w // 32).clip(0, w - 1)
        g = gray[yi][:, xi]
    else:
        g = gray.reshape(32, h // 32, 32, w // 32).sum(axis=(1, 3))
    g = g.tolist()
    with mp.workdps(40):
        d = [
            [
                mp.cos(mp.pi * (2 * i + 1) * k / 64) * mp.sqrt(mp.mpf(1) / (32 if k == 0 else 16))
                for i in range(32)
            ]
            for k in range(8)
        ]
        rows = [[mp.fdot(d[k], [g[i][j] for i in range(32)]) for j in range(32)] for k in range(8)]
        block = [mp.fdot(rows[k], d[l]) for k in range(8) for l in range(8)]
        s = sorted(block)
        med = (s[31] + s[32]) / 2
        tie = max(abs(c) for c in block) * mp.mpf(10) ** -30
        v = 0
        for c in block:
            v = (v << 1) | int(c - med > tie)
    return v - (1 << 64) if v >= (1 << 63) else v


@pytest.mark.parametrize(
    "i, fmt, hw",
    [
        (126, "ppm", (32, 32)),  # tied pair (3,7)/(7,3) at the median
        (8, "qnt", (64, 64)),  # tied pair at the median
        (1617, "ppm", (64, 32)),  # tied pair at the median
    ],
)
def test_phash_matches_exact_recipe(i, fmt, hw):
    row = synth_image_row(i)
    px = decode_image(bytes(row["bytes"]), row["fmt"])
    assert (row["fmt"], px.shape[:2]) == (fmt, hw)
    assert row["phash"] == phash64(px) == _phash_exact(px)
