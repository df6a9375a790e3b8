"""The parquet-dir catalog (metadata-only row counts and their use as the
knn_join sizing hint, content snapshot ids, put-if-absent commits, time
travel), and the session's parquet schema memo (no inference job for a
re-read)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from fairy_core_spark.sources import tables
from fairy_core_spark.sources.tables import (
    CommitConflict,
    ParquetDirCatalog,
    read_input,
    read_parquet,
)
from tests.helpers import spark_jobs


def test_snapshot_carries_rows_and_row_count_matches(spark, tmp_path):
    cat = ParquetDirCatalog(str(tmp_path))
    df = spark.range(0, 1234).selectExpr("id", "id % 7 AS grp")
    snap = cat.write(df, "t1", partition_by=["grp"])
    assert snap["rows"] == 1234
    assert cat.row_count("t1") == 1234
    assert cat.read(spark, "t1").count() == 1234
    # its id reads the current files, an id never committed fails
    assert cat.files("t1", snap["snapshot_id"]) == cat.files("t1")
    assert sum(f["rows"] for f in cat.files("t1")) == 1234
    with pytest.raises(KeyError):
        cat.files("t1", "not-a-snapshot")


def test_knn_n_points_hint_matches_default(spark):
    import pandas as pd

    from fairy_core_spark.spatial.ops import knn_join

    pdf = pd.DataFrame(
        {
            "id": [f"p{i}" for i in range(200)],
            "lat": [(i * 37 % 1200) / 10.0 - 60.0 for i in range(200)],
            "lon": [(i * 91 % 3600) / 10.0 - 180.0 for i in range(200)],
        }
    )
    points = spark.createDataFrame(pdf)
    qdf = spark.createDataFrame(
        pdf.iloc[:10].rename(columns={"id": "query_id"})
    )
    base = knn_join(points, qdf, k=3, id_col="id", query_id_col="query_id")
    hinted = knn_join(points, qdf, k=3, id_col="id", query_id_col="query_id", n_points=200)
    b = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in base.collect()}
    h = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in hinted.collect()}
    assert b == h and len(b) == 30


def test_versioned_catalog_time_travel_and_rollback(spark, tmp_path):
    """Snapshot log: commits append immutable versions; time travel reads
    any logged snapshot; rollback is a NEW commit over the old data dir,
    under the old snapshot's id (history preserved)."""
    cat = ParquetDirCatalog(str(tmp_path))
    v1 = spark.range(0, 10).selectExpr("id", "id * 2 AS v")
    v2 = spark.range(0, 4).selectExpr("id", "id * 3 AS v")

    s1 = cat.write(v1, "t")
    s2 = cat.write(v2, "t")
    assert (s1["seq"], s2["seq"]) == (0, 1)
    assert s1["snapshot_id"] != s2["snapshot_id"]
    assert s1["dir"] != s2["dir"]
    assert cat.snapshot("t") == s2
    assert cat.row_count("t") == 4

    # current read = v2; time travel = v1
    assert cat.read(spark, "t").count() == 4
    old = cat.read(spark, "t", snapshot_id=s1["snapshot_id"])
    assert old.count() == 10
    assert {r["v"] for r in old.collect()} == {i * 2 for i in range(10)}

    # rollback appends commit 2 with v1's id and data; history intact
    s3 = cat.rollback("t", s1["snapshot_id"])
    assert (s3["seq"], s3["snapshot_id"], s3["dir"], s3["rows"]) == (
        2, s1["snapshot_id"], s1["dir"], 10,
    )
    assert cat.read(spark, "t").count() == 10
    assert [e["seq"] for e in cat.history("t")] == [0, 1, 2]
    assert cat.history("t")[-1]["rolled_back_to"] == s1["snapshot_id"]
    # the intermediate snapshot stays readable (snapshot isolation)
    assert cat.read(spark, "t", snapshot_id=s2["snapshot_id"]).count() == 4
    # per-snapshot manifests differ
    assert cat.files("t", s1["snapshot_id"]) == cat.files("t")
    assert cat.files("t", s2["snapshot_id"]) != cat.files("t")

    with pytest.raises(KeyError, match="not in log"):
        cat.read(spark, "t", snapshot_id="commit-9")
    with pytest.raises(FileNotFoundError):
        cat.read(spark, "missing")


def test_crash_during_write_keeps_previous_snapshot(spark, tmp_path):
    """A write whose last row fails commits nothing: the table reads the
    previous snapshot intact, under its own id, and the crashed write's
    data dir is an orphan."""
    cat = ParquetDirCatalog(str(tmp_path))
    first = cat.write(spark.range(0, 1000), "t")
    last = F.col("id") == 1999
    crashing = spark.range(0, 2000).withColumn(
        "id", F.when(last, F.raise_error(F.lit("injected crash"))).otherwise(F.col("id"))
    )
    with pytest.raises(Exception, match="injected crash"):
        cat.write(crashing, "t")
    assert cat.snapshot("t") == first
    assert cat.row_count("t") == 1000
    assert sorted(r["id"] for r in cat.read(spark, "t").collect()) == list(range(1000))
    crashed = [e for e in os.listdir(tmp_path / "t") if e.startswith("data-") and e != first["dir"]]
    assert len(crashed) == 1
    assert cat.orphan_files("t") == crashed


def test_commit_race_has_one_winner(spark, tmp_path):
    """Two writers that start from the same snapshot: the one that commits
    second gets CommitConflict, and history grows by one commit."""
    root = str(tmp_path)
    ParquetDirCatalog(root).write(spark.range(0, 3), "t")
    a, b = ParquetDirCatalog(root), ParquetDirCatalog(root)
    a_commit = a._commit
    won = []

    def b_commits_first(name, entry):
        # ``a`` has written its data and is about to commit ``entry``
        # (seq 1); ``b`` starts and commits its own seq 1 in between
        won.append(b.write(spark.range(0, 5), "t"))
        return a_commit(name, entry)

    a._commit = b_commits_first
    with pytest.raises(CommitConflict):
        a.write(spark.range(0, 4), "t")
    assert [e["seq"] for e in a.history("t")] == [0, 1]
    assert a.snapshot("t") == won[0] and a.row_count("t") == 5
    assert len(a.orphan_files("t")) == 1  # the loser's data dir


def test_snapshot_id_is_content_not_layout(spark, tmp_path):
    """The snapshot id depends on the rows, the schema and partition_by,
    not on file layout or row order; an empty table gets one too; 100k
    row hashes sum without overflow under ANSI."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    cat = ParquetDirCatalog(str(tmp_path))
    df = spark.range(0, 100_000).selectExpr(
        "id", "id % 13 AS k", "IF(id % 7 = 0, NULL, id * 3) AS v", "IF(id % 5 = 0, NULL, 'x') AS s"
    )

    def sid(frame, name, partition_by=("k",)):
        return cat.write(frame, name, partition_by=list(partition_by))["snapshot_id"]

    same = {
        sid(df, "as_is"),
        sid(df.repartition(7, "k"), "repartitioned"),
        sid(df.coalesce(1), "coalesced"),
        sid(df.orderBy(F.desc("id")), "reversed"),
    }
    assert len(same) == 1
    assert cat.row_count("coalesced") == 100_000

    small = spark.createDataFrame([(1, None, 2)], "id long, a long, b long")
    moved = spark.createDataFrame([(1, 2, None)], "id long, a long, b long")
    retyped = small.selectExpr("id", "a", "CAST(b AS int) AS b")
    ids = {
        sid(small, "small", ()),
        sid(moved, "moved", ()),
        sid(retyped, "retyped", ()),
        sid(small, "by_id", ("id",)),
    }
    assert len(ids) == 4

    empty = cat.write(df.where("false"), "empty")
    assert empty["rows"] == 0 and cat.row_count("empty") == 0
    assert empty["snapshot_id"] not in same | ids


def test_table_fingerprint_ignores_file_names_and_parquet_footers(tmp_path):
    """Same rows written under other file names, or with a footer that
    differs (a writer's column-chunk metadata is not byte-stable across
    JVMs), keep the fingerprint; other rows, or the same file in another
    partition directory, change it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from fairy_core_spark.plans.provenance import sha256_file, table_fingerprint

    def table(dirname, fname, rows, part="k=1"):
        d = tmp_path / dirname / part
        d.mkdir(parents=True)
        pq.write_table(pa.table({"id": rows}), str(d / fname))
        return str(tmp_path / dirname), str(d / fname)

    a, _ = table("a", "part-00000-1111.parquet", [1, 2, 3])
    b, fb = table("b", "part-00000-2222.parquet", [1, 2, 3])
    assert table_fingerprint(a) == table_fingerprint(b)

    # flip one character of the writer string, which only the footer holds
    data = bytearray(open(fb, "rb").read())
    at = data.rindex(b"parquet-cpp")
    data[at] = ord("P")
    before = sha256_file(fb)
    open(fb, "wb").write(bytes(data))
    assert sha256_file(fb) != before
    assert table_fingerprint(b) == table_fingerprint(a)

    c, _ = table("c", "part-00000-1111.parquet", [1, 2, 4])
    d, _ = table("d", "part-00000-1111.parquet", [1, 2, 3], part="k=2")
    assert len({table_fingerprint(x) for x in (a, c, d)}) == 3


def _write(path, **cols):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(cols), str(path))
    return str(path)


def test_reread_of_unchanged_parquet_runs_no_job(spark, tmp_path):
    p = _write(tmp_path / "t.parquet", id=[1, 2, 3], v=["a", "b", "c"])
    first, n_first = spark_jobs(spark, lambda: read_input(spark, p))
    again, n_again = spark_jobs(spark, lambda: read_input(spark, p))
    assert n_first >= 1  # Spark's own schema inference
    assert n_again == 0
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())


def test_overwritten_parquet_reads_its_new_schema(spark, tmp_path):
    p = _write(tmp_path / "t.parquet", id=[1, 2])
    assert read_input(spark, p).columns == ["id"]
    _write(tmp_path / "t.parquet", id=[1, 2], w=[0.5, 1.5])
    df = read_input(spark, p)
    assert df.columns == ["id", "w"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, 0.5), (2, 1.5)]


def test_catalog_table_rewritten_in_place_reads_its_new_schema(spark, tmp_path):
    cat = ParquetDirCatalog(str(tmp_path))
    cat.write(spark.range(0, 10), "t")
    assert cat.read(spark, "t").columns == ["id"]
    cat.write(spark.range(0, 10).selectExpr("id", "id * 2 AS twice"), "t")
    df = cat.read(spark, "t")
    assert df.columns == ["id", "twice"]
    assert df.where("twice = id * 2").count() == 10


def test_schema_memo_evicts_entries_of_other_sessions(spark, tmp_path):
    from pyspark.sql.types import StructType

    p = _write(tmp_path / "t.parquet", id=[1])
    stale = ("app-of-a-stopped-session", p)
    tables._SCHEMAS[stale] = ((), StructType([]))
    read_parquet(spark, p)
    assert stale not in tables._SCHEMAS
    assert {k[0] for k in tables._SCHEMAS} == {spark.sparkContext.applicationId}


def test_paths_the_driver_cannot_stat_read_as_spark_does(spark, tmp_path):
    p = _write(tmp_path / "t.parquet", id=[1, 2])
    uri = "file://" + p  # a URI, not a local path: os.stat cannot see it
    df, _ = spark_jobs(spark, lambda: read_parquet(spark, uri))
    _, n_again = spark_jobs(spark, lambda: read_parquet(spark, uri))
    assert n_again >= 1  # nothing memoised: Spark infers again
    assert not any(k[1] == uri for k in tables._SCHEMAS)
    assert df.schema == spark.read.parquet(p).schema
    assert sorted(r["id"] for r in df.collect()) == [1, 2]


def test_schema_memo_under_concurrent_reads(spark, tmp_path):
    """More reader threads than cores, a short switch interval, and entries
    of another session landing meanwhile: every read sees its own file's
    schema, and only this session's entries survive."""
    import sys
    import threading

    paths = [_write(tmp_path / f"t{i}.parquet", **{f"c{i}": [i]}) for i in range(4)]
    errors = []

    def reader(k):
        try:
            for j in range(5):
                with tables._SCHEMAS_LOCK:
                    tables._SCHEMAS[("app-of-a-stopped-session", f"{k}/{j}")] = ((), None)
                i = (k + j) % len(paths)
                assert read_parquet(spark, paths[i]).columns == [f"c{i}"]
        except Exception as e:  # noqa: BLE001 - reported by the main thread
            errors.append(e)

    threads = [threading.Thread(target=reader, args=(k,)) for k in range(12)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    read_parquet(spark, paths[0])  # evicts what the last readers added
    app = spark.sparkContext.applicationId
    assert {k[0] for k in tables._SCHEMAS} == {app}
    assert all((app, p) in tables._SCHEMAS for p in paths)
