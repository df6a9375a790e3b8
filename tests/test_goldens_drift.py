"""Drift guard for the frozen contract goldens
(fairy_core_spark/goldens/contract_goldens.py): recompute a sample of each
golden from the live engine and compare. If the sf0.01 fixture, the image
generator, the S2 encoder, or the phash kernel changes, this fails loudly
instead of leaving the DuckDB oracle gate to surface an opaque mismatch.
The last test pins the registry those oracles are served from."""

from __future__ import annotations

from pyspark.sql import functions as F

from fairy_core_spark.goldens.contract_goldens import IMAGE_PHASH_3000, TILE_CELLS_SF001

SF = "/root/testdata/sf0.01"


def test_tile_cells_golden_matches_engine(spark):
    from fairy_core_spark.queries import _synth_points, _t
    from fairy_core_spark.spatial.ops import with_cell

    assert len(TILE_CELLS_SF001) == 1500
    golden = dict(TILE_CELLS_SF001)
    pts = _synth_points(_t(spark, SF, "customer"), "c_custkey")
    # sample every 13th point (116 rows) — enough to catch any systematic
    # drift in synth formula, fixture keys, or S2 level-4 assignment
    sample = with_cell(pts.where(F.col("point_id") % 13 == 0), level=4, out="tile_id")
    for r in sample.select("point_id", "tile_id").collect():
        assert golden[r["point_id"]] == r["tile_id"], r["point_id"]


def test_image_phash_golden_matches_engine(spark):
    from fairy_core_spark.datagen.images import images_df

    assert len(IMAGE_PHASH_3000) == 3000
    golden = dict(IMAGE_PHASH_3000)
    imgs = images_df(spark, 3000)
    sample = imgs.where(F.abs(F.xxhash64("image_id")) % 25 == 0).select("image_id", "phash")
    rows = sample.collect()
    assert len(rows) > 50
    for r in rows:
        assert golden[r["image_id"]] == r["phash"], r["image_id"]


def test_hex7_cells_golden_matches_engine(spark):
    from fairy_core_spark.goldens.contract_goldens import HEX7_CELLS_SF001
    from fairy_core_spark.queries import _synth_points, _t
    from fairy_core_spark.spatial.ops import with_cell

    assert len(HEX7_CELLS_SF001) == 1500
    golden = dict(HEX7_CELLS_SF001)
    pts = _synth_points(_t(spark, SF, "customer"), "c_custkey")
    sample = with_cell(
        pts.where(F.col("point_id") % 13 == 0), level=2, out="hex_id", scheme="hex7"
    )
    for r in sample.select("point_id", "hex_id").collect():
        assert golden[r["point_id"]] == r["hex_id"], r["point_id"]


def test_hex7_cells4_golden_matches_engine(spark):
    from fairy_core_spark.goldens.contract_goldens import HEX7_CELLS4_SF001
    from fairy_core_spark.queries import _synth_points, _t
    from fairy_core_spark.spatial.ops import with_cell

    assert len(HEX7_CELLS4_SF001) == 1500
    golden = dict(HEX7_CELLS4_SF001)
    pts = _synth_points(_t(spark, SF, "customer"), "c_custkey")
    sample = with_cell(
        pts.where(F.col("point_id") % 13 == 0), level=4, out="hex_id", scheme="hex7"
    )
    for r in sample.select("point_id", "hex_id").collect():
        assert golden[r["point_id"]] == r["hex_id"], r["point_id"]


def test_image_alt_hash_golden_matches_engine(spark):
    from fairy_core_spark.datagen.images import images_df
    from fairy_core_spark.functions.alt_hash import alt_hashes
    from fairy_core_spark.goldens.contract_goldens import IMAGE_ALTHASH_3000

    assert len(IMAGE_ALTHASH_3000) == 3000
    golden = {iid: (dh, ah) for iid, dh, ah in IMAGE_ALTHASH_3000}
    imgs = images_df(spark, 3000).where(F.abs(F.xxhash64("image_id")) % 25 == 0)
    rows = alt_hashes(imgs).collect()
    assert len(rows) > 50
    for r in rows:
        assert golden[r["image_id"]] == (r["dhash"], r["ahash"]), r["image_id"]


def test_hex7_ring1_golden_matches_engine():
    """the frozen occupied-cell adjacency = neighbors_geo of the frozen
    occupied cells, filtered to occupied endpoints, self-edges dropped"""
    import numpy as np

    from fairy_core_spark.goldens.contract_goldens import (
        HEX7_CELLS_SF001,
        HEX7_RING1_SF001,
    )
    from fairy_core_spark.spatial import hex7

    occ = np.unique(np.array([t for _, t in HEX7_CELLS_SF001], dtype=np.int64))
    occ_set = set(occ.tolist())
    nb = hex7.neighbors_geo(occ)
    expect = sorted(
        {
            (int(c), int(v))
            for c, row in zip(occ.tolist(), nb)
            for v in set(row.tolist())
            if v != c and v in occ_set
        }
    )
    assert sorted(HEX7_RING1_SF001) == expect
    # sanity: every edge endpoint is an occupied cell, no self loops
    assert all(a in occ_set and b in occ_set and a != b for a, b in HEX7_RING1_SF001)


def test_image_dihedral_golden_matches_engine(spark):
    from fairy_core_spark.datagen.images import images_df, rotated_images_df
    from fairy_core_spark.goldens.contract_goldens import IMAGE_DIHEDRAL_640
    from fairy_core_spark.operators.images import rotation_invariant_keys

    assert len(IMAGE_DIHEDRAL_640) == 640
    golden = dict(IMAGE_DIHEDRAL_640)
    sub = (
        images_df(spark, 3000)
        .where(F.substring("image_id", 4, 10).cast("long") % 5 == 0)
        .unionByName(rotated_images_df(spark))
        .where(F.abs(F.xxhash64("image_id")) % 10 == 0)
    )
    rows = rotation_invariant_keys(sub).collect()
    assert len(rows) > 30
    for r in rows:
        assert golden[r["image_id"]] == r["dkey"], r["image_id"]


def test_registry_dicts_complete_and_aligned():
    """queries()/oracle_sql() serve every registered entry in registration
    order, and every oracle names a registered query."""
    from fairy_core_spark.queries import _ORACLES, _QUERIES, oracle_sql, queries

    qs, os_ = queries(), oracle_sql()
    assert list(qs) == list(_QUERIES)
    assert list(os_) == list(_ORACLES)
    assert set(os_) <= set(qs)
