"""Lakehouse table-maintenance planning over FILE METADATA (the Iceberg
manifest analog: ``sources/tables.ParquetDirCatalog.files``, whose
``orphan_files`` plans the deletes) — never over data.

A 10^12-image table accretes small files from streaming ingest and
per-partition writers; the standard maintenance action is bin-packing
rewrites (Iceberg's binPack strategy). The planning step here is pure
metadata arithmetic and therefore exactly DuckDB-replayable:

- files at or above ``target_bytes`` are kept as-is (``action='keep'`` —
  rewriting them buys nothing);
- smaller files are assigned to rewrite groups by CUMULATIVE FILL inside
  each table partition: ordered by file id, a file joins bin
  ``floor(preceding_small_bytes / target_bytes)``. Closed form (one window
  sum, no stateful reset), deterministic, and every bin's total is
  < target_bytes + the largest member, i.e. < 2x target — the same bound
  Iceberg's greedy packer gives.

Scale: the window partitions by the table partition columns (compaction
never merges across partitions), so the only ordering is within one
partition's manifest rows — metadata cardinality, not data cardinality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def compaction_plan(
    files: DataFrame,
    target_bytes: int,
    file_col: str = "path",
    bytes_col: str = "bytes",
    partition_cols: tuple[str, ...] = (),
) -> DataFrame:
    """files + (action, group_id): 'keep' (group_id NULL) for files already
    at/above ``target_bytes``; 'rewrite' with a per-partition bin number
    for the rest. Deterministic in (partition, file id) only."""
    if target_bytes <= 0:
        raise ValueError(f"target_bytes must be positive, got {target_bytes}")
    small = F.col(bytes_col) < F.lit(int(target_bytes))
    w = (
        Window.partitionBy(*[F.col(c) for c in partition_cols])
        .orderBy(file_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior = F.coalesce(
        F.sum(F.when(small, F.col(bytes_col))).over(w), F.lit(0)
    )
    return files.select(
        "*",
        F.when(small, F.lit("rewrite")).otherwise(F.lit("keep")).alias("action"),
        F.when(small, F.floor(prior / F.lit(int(target_bytes)))).alias("group_id"),
    )


def compaction_plan_sql(
    files_rel: str,
    target_bytes: int,
    file_col: str = "path",
    bytes_col: str = "bytes",
    partition_cols: tuple[str, ...] = (),
) -> str:
    """DuckDB twin of :func:`compaction_plan` over ``files_rel`` (a table
    name or parenthesized subquery) — same window, same closed form."""
    part = (
        "PARTITION BY " + ", ".join(partition_cols) + " " if partition_cols else ""
    )
    t = int(target_bytes)
    return f"""
    SELECT *,
      CASE WHEN {bytes_col} < {t} THEN 'rewrite' ELSE 'keep' END AS action,
      CASE WHEN {bytes_col} < {t} THEN CAST(FLOOR(COALESCE(SUM(
          CASE WHEN {bytes_col} < {t} THEN {bytes_col} END
        ) OVER ({part}ORDER BY {file_col}
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        / {t}) AS BIGINT) END AS group_id
    FROM {files_rel}
    """


def manifest_diff(
    old: DataFrame,
    new: DataFrame,
    file_col: str = "path",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Snapshot-to-snapshot file diff — the incremental-processing primitive
    (Iceberg incremental read / changelog scan analog): full-outer join of
    two manifests on the file id, classified added / removed / changed /
    unchanged. Downstream incremental jobs process only 'added' + 'changed'
    rows instead of rescanning 10^12 images. Metadata cardinality only."""
    o = old.select(
        F.col(file_col).alias(file_col), F.col(bytes_col).alias("bytes_old")
    )
    n = new.select(
        F.col(file_col).alias(file_col), F.col(bytes_col).alias("bytes_new")
    )
    j = o.join(n, file_col, "full_outer")
    status = (
        F.when(F.col("bytes_old").isNull(), "added")
        .when(F.col("bytes_new").isNull(), "removed")
        .when(F.col("bytes_old") != F.col("bytes_new"), "changed")
        .otherwise("unchanged")
    )
    return j.select(file_col, "bytes_old", "bytes_new", status.alias("status"))


def clustering_depth(
    stats: DataFrame,
    min_col: str = "min_key",
    max_col: str = "max_key",
    partition_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-partition MAX OVERLAP DEPTH of file key ranges — the metric that
    decides when a table needs re-clustering (Z-order / sort compaction):
    depth d at key k means a point lookup of k must open d files; a
    well-clustered table holds depth ~1, ingest-ordered tables drift up.

    Sweep-line as one window: +1 event at each file's min, -1 at its max,
    running sum ordered by (key, event DESC) — inclusive [min, max]
    intervals, so ranges touching at a key count as overlapping there.
    Metadata cardinality (2 events per manifest row)."""
    parts = [F.col(c) for c in partition_cols]
    opens = stats.select(
        *parts, F.col(min_col).alias("__k"), F.lit(1).alias("__d")
    )
    closes = stats.select(
        *parts, F.col(max_col).alias("__k"), F.lit(-1).alias("__d")
    )
    w = (
        Window.partitionBy(*parts)
        .orderBy(F.col("__k"), F.col("__d").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    swept = opens.unionByName(closes).select(
        *parts, F.sum("__d").over(w).alias("__depth")
    )
    gb = swept.groupBy(*parts) if partition_cols else swept.groupBy()
    return gb.agg(
        F.max("__depth").alias("max_depth"),
        (F.count(F.lit(1)) / 2).cast("long").alias("n_files"),
    )


def clustering_depth_sql(
    stats_rel: str,
    min_col: str = "min_key",
    max_col: str = "max_key",
    partition_cols: tuple[str, ...] = (),
) -> str:
    """DuckDB twin of :func:`clustering_depth` — same events, same window."""
    cols = ", ".join(partition_cols)
    sel = cols + ", " if cols else ""
    part = f"PARTITION BY {cols} " if cols else ""
    grp = f"GROUP BY {cols}" if cols else ""
    return f"""
    WITH events AS (
      SELECT {sel}{min_col} AS k, 1 AS d FROM {stats_rel}
      UNION ALL
      SELECT {sel}{max_col} AS k, -1 AS d FROM {stats_rel}
    ), swept AS (
      SELECT {sel}SUM(d) OVER ({part}ORDER BY k, d DESC
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS depth
      FROM events
    )
    SELECT {sel}CAST(MAX(depth) AS BIGINT) AS max_depth,
           CAST(COUNT(*) / 2 AS BIGINT) AS n_files
    FROM swept {grp}
    """


def expire_snapshots_plan(
    snapshots: DataFrame,
    *,
    keep_last: int = 5,
    keep_daily_days: int = 30,
    id_col: str = "snapshot_id",
    ts_col: str = "committed_at",
) -> DataFrame:
    """Snapshot-retention planning (the Iceberg ``expireSnapshots``
    decision, computed as data BEFORE anything is deleted): every
    snapshot labeled with a first-match reason —

    - ``recent``: one of the newest ``keep_last`` snapshots (by
      (committed_at, id) DESC — id breaks commit-time ties);
    - ``daily``: the LAST snapshot of its calendar day (same order),
      for days within ``keep_daily_days`` days of the newest
      snapshot's day;
    - ``expire``: everything else (safe to remove together with any
      data files only they reference).

    Pure window/date integer logic over the snapshot LOG (metadata
    cardinality — hundreds of rows for years of history), so the plan
    costs nothing at any table scale and is engine-portable: recency
    rank, per-day rank and the day-diff are all exact.

    Output: (id, committed day DATE, reason).
    """
    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    if keep_daily_days < 0:
        raise ValueError(f"keep_daily_days must be >= 0, got {keep_daily_days}")
    base = snapshots.select(
        F.col(id_col).alias("snapshot_id"),
        F.to_date(F.col(ts_col)).alias("day"),
        F.col(ts_col).alias("_ts"),
    )
    # the full commit time orders same-day commits; the id only breaks
    # exact ties (ids need not follow commit order)
    newest = (F.col("_ts").desc(), F.col("snapshot_id").desc())
    w_recent = Window.orderBy(*newest)
    w_day = Window.partitionBy("day").orderBy(*newest)
    w_all = Window.partitionBy()
    labeled = base.select(
        "snapshot_id",
        "day",
        F.row_number().over(w_recent).alias("_rec"),
        F.row_number().over(w_day).alias("_dayrk"),
        F.max("day").over(w_all).alias("_maxday"),
    )
    reason = (
        F.when(F.col("_rec") <= keep_last, "recent")
        .when(
            (F.col("_dayrk") == 1)
            & (F.datediff(F.col("_maxday"), F.col("day")) < keep_daily_days),
            "daily",
        )
        .otherwise("expire")
    )
    return labeled.select("snapshot_id", "day", reason.alias("reason"))
