"""Compaction planning (operators/maintenance.py): packing invariants,
partition-layout invariance, DuckDB-twin parity, and the end-to-end path
over a real ParquetDirCatalog file manifest."""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from fairy_core_spark.operators.maintenance import compaction_plan, compaction_plan_sql

TARGET = 10_000


def _files(spark, n=400, parts=3, partitions=4):
    return spark.range(0, n, 1, partitions).select(
        F.col("id").alias("file_id"),
        (F.col("id") % parts).alias("part"),
        ((F.col("id") * 613) % 14_000 + 500).alias("bytes"),  # ~30% >= TARGET
    )


def test_packing_invariants(spark):
    files = _files(spark)
    plan = compaction_plan(
        files, TARGET, file_col="file_id", partition_cols=("part",)
    ).toPandas()

    keeps = plan[plan["action"] == "keep"]
    rewrites = plan[plan["action"] == "rewrite"]
    assert len(plan) == 400  # every file planned exactly once
    assert (keeps["bytes"] >= TARGET).all() and keeps["group_id"].isna().all()
    assert (rewrites["bytes"] < TARGET).all() and rewrites["group_id"].notna().all()

    g = rewrites.groupby(["part", "group_id"])["bytes"]
    # cumulative-fill bound: every bin < target + its largest member (< 2x)
    assert ((g.sum() - g.max()) < TARGET).all()
    # bins are contiguous 0..k per partition and only the last may be light
    for part, sub in rewrites.groupby("part"):
        ids = sorted(sub["group_id"].unique())
        assert ids == list(range(len(ids)))
        sums = sub.groupby("group_id")["bytes"].sum()
        assert (sums.iloc[:-1] >= TARGET - sub["bytes"].max()).all()


def test_plan_is_partition_layout_invariant(spark):
    """The plan depends on (part, file_id) only — never on how the manifest
    rows are distributed across Spark partitions."""
    a = compaction_plan(
        _files(spark, partitions=1), TARGET, "file_id", partition_cols=("part",)
    ).toPandas().sort_values("file_id").reset_index(drop=True)
    b = compaction_plan(
        _files(spark, partitions=13).repartition(7), TARGET, "file_id",
        partition_cols=("part",),
    ).toPandas().sort_values("file_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_sql_twin_parity(spark):
    want = (
        compaction_plan(_files(spark), TARGET, "file_id", partition_cols=("part",))
        .toPandas().sort_values("file_id").reset_index(drop=True)
    )
    files = (
        "(SELECT i AS file_id, i % 3 AS part, (i * 613) % 14000 + 500 AS bytes"
        " FROM generate_series(0, 399) AS t(i))"
    )
    got = (
        duckdb.sql(
            compaction_plan_sql(files, TARGET, "file_id", "bytes", ("part",))
        )
        .df().sort_values("file_id").reset_index(drop=True)
    )
    for c in want.columns:
        got[c] = got[c].astype(want[c].dtype)
    pd.testing.assert_frame_equal(got[list(want.columns)], want)


def test_catalog_manifest_roundtrip(spark, tmp_path):
    """catalog.files() manifest -> compaction_plan over a REAL table whose
    writer fragmented it into many small files."""
    from fairy_core_spark.sources.tables import ParquetDirCatalog

    cat = ParquetDirCatalog(str(tmp_path))
    df = spark.range(0, 2000).select(
        F.col("id"), (F.col("id") % 2).alias("p"), F.md5(F.col("id").cast("string")).alias("payload")
    )
    cat.write(df.repartition(24), "frag", partition_by=["p"])

    manifest = cat.files("frag")
    assert len(manifest) >= 24 and all(m["bytes"] > 0 for m in manifest)

    files_df = spark.createDataFrame(pd.DataFrame(manifest))
    # derive the partition key from the path (p=0/ / p=1/ dirs)
    files_df = files_df.withColumn(
        "p", F.regexp_extract("path", r"p=(\d+)", 1)
    )
    target = max(m["bytes"] for m in manifest) + 1  # everything is "small"
    plan = compaction_plan(files_df, target, file_col="path", partition_cols=("p",))
    out = plan.toPandas()
    assert (out["action"] == "rewrite").all()
    n_groups = out.groupby("p")["group_id"].nunique().sum()
    assert n_groups < len(manifest)  # the plan actually reduces file count


def test_manifest_diff_classification(spark):
    from fairy_core_spark.operators.maintenance import manifest_diff

    old = spark.createDataFrame(
        [("a", 10), ("b", 20), ("c", 30)], "path string, bytes long"
    )
    new = spark.createDataFrame(
        [("b", 20), ("c", 31), ("d", 40)], "path string, bytes long"
    )
    got = {r["path"]: r["status"] for r in manifest_diff(old, new).collect()}
    assert got == {"a": "removed", "b": "unchanged", "c": "changed", "d": "added"}


def test_clustering_depth_vs_bruteforce(spark):
    """sweep-line max depth == brute-force point-stabbing over every
    interval endpoint, on deterministic overlapping ranges."""
    import numpy as np

    from fairy_core_spark.operators.maintenance import clustering_depth

    ids = np.arange(300)
    parts = ids % 3
    mins = (ids * 29) % 500
    maxs = mins + (ids * 7) % 80 + 1
    stats = spark.createDataFrame(
        [(int(p), int(a), int(b)) for p, a, b in zip(parts, mins, maxs)],
        "part long, min_key long, max_key long",
    )
    got = {
        r["part"]: (r["max_depth"], r["n_files"])
        for r in clustering_depth(stats, partition_cols=("part",)).collect()
    }
    for p in (0, 1, 2):
        m = parts == p
        a, b = mins[m], maxs[m]
        depth = max(
            int(((a <= k) & (k <= b)).sum()) for k in np.concatenate([a, b])
        )
        assert got[p] == (depth, int(m.sum()))

    # a perfectly clustered (disjoint) layout reads depth 1
    flat = spark.createDataFrame(
        [(i * 10, i * 10 + 9) for i in range(20)], "min_key long, max_key long"
    )
    row = clustering_depth(flat).collect()[0]
    assert (row["max_depth"], row["n_files"]) == (1, 20)


def test_expire_snapshots_plan_reasons(spark):
    """first-match retention: newest keep_last are 'recent' (id breaks
    same-day ties), last-of-day within the horizon is 'daily', the rest
    expire; horizon measured from the NEWEST snapshot's day."""
    import datetime as dt

    from fairy_core_spark.operators.maintenance import expire_snapshots_plan

    d = dt.date
    rows = [
        (1, d(2024, 1, 1)), (2, d(2024, 1, 1)),   # old day, two commits
        (3, d(2024, 1, 20)),
        (4, d(2024, 2, 5)), (5, d(2024, 2, 5)),
        (6, d(2024, 2, 6)),
    ]
    snaps = spark.createDataFrame(rows, "snapshot_id long, committed_at date")
    got = {
        r["snapshot_id"]: r["reason"]
        for r in expire_snapshots_plan(
            snaps, keep_last=2, keep_daily_days=30
        ).collect()
    }
    # recency order: (2/6 id6), (2/5 id5) -> recent; id4 same day as 5 but
    # rank 3 -> falls to daily test: dayrk 2 -> NOT last-of-day -> expire
    assert got[6] == "recent" and got[5] == "recent"
    assert got[4] == "expire"
    # 1/20 within 30 days of 2/6 and last of its day -> daily
    assert got[3] == "daily"
    # 1/1 is 36 days before 2/6 -> outside horizon -> expire (both)
    assert got[1] == "expire" and got[2] == "expire"


def test_expire_snapshots_plan_same_day_orders_by_commit_time(spark):
    """same-day commits rank by the full commit timestamp, not by id: the
    newest commit stays recent even when its id sorts lower (commit-10
    after commit-9), and the day's last commit is the daily keeper."""
    import datetime as dt

    from fairy_core_spark.operators.maintenance import expire_snapshots_plan

    t = dt.datetime
    rows = [
        ("commit-9", t(2024, 3, 1, 9, 0)),
        ("commit-10", t(2024, 3, 1, 17, 30)),  # newest, lower id string
        ("commit-8", t(2024, 2, 28, 8, 0)),
        ("commit-7", t(2024, 2, 28, 20, 0)),   # last of its day
    ]
    snaps = spark.createDataFrame(rows, "snapshot_id string, committed_at timestamp")
    got = {
        r["snapshot_id"]: r["reason"]
        for r in expire_snapshots_plan(snaps, keep_last=1, keep_daily_days=30).collect()
    }
    assert got == {
        "commit-10": "recent",
        "commit-9": "expire",
        "commit-7": "daily",
        "commit-8": "expire",
    }


def test_orphan_files_plan(spark, tmp_path):
    """deleteOrphanFiles analog: data dirs outside the kept snapshot set,
    the dir of a write that crashed, and stray writer debris surface;
    kept dirs' members and commit files never do; default keeps every
    committed snapshot."""
    from fairy_core_spark.sources.tables import ParquetDirCatalog

    cat = ParquetDirCatalog(str(tmp_path))
    df = spark.range(10).select(F.col("id").alias("k"))
    s0 = cat.write(df, "t")
    s1 = cat.write(df.withColumn("k", F.col("k") + 1), "t")
    s2 = cat.write(df.withColumn("k", F.col("k") + 2), "t")
    d0, d1, d2 = s0["dir"], s1["dir"], s2["dir"]
    # a write that crashes mid-job leaves an uncommitted data dir
    crashing = df.withColumn("k", F.when(F.col("k") == 9, F.raise_error(F.lit("crash"))))
    with pytest.raises(Exception, match="crash"):
        cat.write(crashing, "t")
    (crashed,) = set(os.listdir(tmp_path / "t")) - {d0, d1, d2, "_commits"}
    # crashed-writer debris
    (tmp_path / "t" / d1 / "_temporary_chunk").write_text("junk")
    (tmp_path / "t" / "leftover.tmp").write_text("junk")
    (tmp_path / "t" / d2 / "part-00000.parquet.tmp").write_text("junk")
    (tmp_path / "t" / "_commits" / ".3-abc.tmp").write_text("{}")

    # keep only the newest snapshot: the older data dirs orphan whole
    got = cat.orphan_files("t", {s2["snapshot_id"]})
    assert got == sorted(
        [d0, d1, crashed, "leftover.tmp", "_commits/.3-abc.tmp", f"{d2}/part-00000.parquet.tmp"]
    )

    # default: all committed snapshots kept -> only true strays
    assert cat.orphan_files("t") == sorted(
        [crashed, "leftover.tmp", "_commits/.3-abc.tmp",
         f"{d1}/_temporary_chunk", f"{d2}/part-00000.parquet.tmp"]
    )
