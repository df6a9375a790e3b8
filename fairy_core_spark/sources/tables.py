"""Table layer + stable row identity.

The reference reads whole CSV/TSV files into pandas and uses the pandas row
index (1-based in reports) as the evidence currency
(``rulepack_runner.py:94-101,308-309``). Spark has no implicit row order, so
row identity is minted explicitly at ingest and carried through every
operator — a load-bearing design decision (SURVEY.md §1.2).

Two strategies:

- ``with_row_id_by_order(df, *cols)``: ``row_number()`` over a total order.
  Exact file-order parity for fixture goldens and small/medium tables; a
  global sort at scale, so use only when the reference's 1-based file order
  must be reproduced bit-for-bit.
- ``with_row_id_ingest(df)``: deterministic two-pass partition-offset ids
  (the zipWithIndex idea expressed DataFrame-side): pass 1 counts rows per
  input partition, pass 2 adds ``offset[pid] + local_index``. No global
  sort, no skew, O(1) extra memory per task — the scale path. Ids are stable
  for a fixed table snapshot (fixed file set + split config), which the
  snapshot fingerprint pins.

Storage: an Iceberg-shaped interface with a parquet-directory implementation
(no Iceberg runtime jar in this sandbox). ``ParquetDirCatalog`` adds the two
Iceberg semantics the engine needs: a snapshot manifest (checkpoint/resume
identity) and a per-file manifest with sizes and row counts (lineage,
maintenance planning). Swapping in real Iceberg is a
config change (``spark.sql.catalog...`` + ``spark.table``), not a code change.

Parquet reads (inputs, catalog tables, the query registry) go through
``read_parquet``, which keeps the schema Spark inferred for a file so a
re-read of the unchanged file runs no inference job.
"""

from __future__ import annotations

import json
import os
import threading
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from fairy_core_spark.plans.provenance import table_fingerprint

ROW_ID = "__row_id"


def with_row_id_by_order(df: DataFrame, *order_cols: str) -> DataFrame:
    """1-based row ids by total order over ``order_cols`` (ties broken by
    all remaining columns for determinism)."""
    cols = list(order_cols) or df.columns
    tie = [c for c in df.columns if c not in cols]
    w = Window.orderBy(*[F.col(c) for c in cols + tie])
    return df.withColumn(ROW_ID, F.row_number().over(w).cast("long"))


def with_row_id_ingest(df: DataFrame) -> DataFrame:
    """1-based row ids via partition-offset assignment (no global sort).

    Deterministic for a fixed snapshot: Spark assigns input-split partitions
    in (file, byte-offset) order, and row order within a split is the file
    order. Fully JVM-side (no python roundtrip): `monotonically_increasing_id`
    is documented as `partition_id << 33 | intra_partition_counter`, so its
    low 33 bits ARE the within-partition file order; cumulative partition
    offsets come from one cheap count pass and join back via broadcast.
    """
    pid_df = df.withColumn("__pid", F.spark_partition_id()).withColumn(
        "__mid", F.monotonically_increasing_id()
    )
    mask = (1 << 33) - 1
    counts = (
        pid_df.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("count"), F.max(F.col("__mid").bitwiseAND(F.lit(mask))).alias("__maxintra"))
        .orderBy("__pid")
        .collect()
    )  # tiny: one row per partition
    spark = df.sparkSession
    rows, acc = [], 0
    for row in counts:
        # defend the documented low-33-bit contract: if Spark ever changed
        # the id layout (or a partition overflowed 2^33 rows) the intra
        # counter would no longer equal count-1 and ids would silently
        # corrupt — fail loudly instead. Costs nothing: same counts pass.
        if int(row["__maxintra"]) != int(row["count"]) - 1:
            raise AssertionError(
                "monotonically_increasing_id intra-partition contract violated "
                f"(partition {row['__pid']}: max intra {row['__maxintra']} != "
                f"count-1 {int(row['count']) - 1}); row-id assignment unsafe"
            )
        rows.append((int(row["__pid"]), acc))
        acc += row["count"]
    if not rows:
        rows = [(0, 0)]
    off_df = spark.createDataFrame(rows, schema="__pid int, __off long")
    intra = F.col("__mid").bitwiseAND(F.lit(mask))
    # The counts pass and the final join are two separate jobs over the
    # same plan; if split planning shifts between them (input dir gained a
    # file, differing maxPartitionBytes), a partition id can appear here
    # that the offset pass never saw. Substituting offset 0 would silently
    # DUPLICATE ids 1..k — fail loudly instead (same convention as the
    # intra-counter guard above).
    row_id = F.when(F.col("__off").isNotNull(), F.col("__off") + intra + 1).otherwise(
        F.raise_error(
            F.concat(
                F.lit("with_row_id_ingest: partition "),
                F.col("__pid").cast("string"),
                F.lit(
                    " absent from the offset pass (input changed between"
                    " jobs?); row-id assignment unsafe"
                ),
            )
        )
    )
    return (
        pid_df.join(F.broadcast(off_df), "__pid", "left")
        .withColumn(ROW_ID, row_id)
        .drop("__pid", "__mid", "__off")
    )


# Parquet schemas Spark inferred, per session: (applicationId, path) ->
# (file stamp, StructType). See read_parquet.
_SCHEMAS: dict[tuple, tuple[tuple, StructType]] = {}
_SCHEMAS_LOCK = threading.Lock()


def _file_stamp(path: str) -> tuple | None:
    """(relative name, size, mtime_ns) of every file under ``path`` (or of
    ``path`` itself), sorted; None when the driver cannot stat it (a
    non-local URI, a glob, a missing path)."""
    try:
        if os.path.isfile(path):
            st = os.stat(path)
            return (("", st.st_size, st.st_mtime_ns),)
        if not os.path.isdir(path):
            return None
        out = []
        for root, _dirs, fns in os.walk(path):
            for fn in fns:
                p = os.path.join(root, fn)
                st = os.stat(p)
                out.append((os.path.relpath(p, path), st.st_size, st.st_mtime_ns))
        return tuple(sorted(out))
    except OSError:
        return None


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without a repeated schema-inference job.

    Inferring a parquet schema is a Spark job (footer reads) on every read.
    The schema Spark inferred is kept for the session, keyed on the path and
    the name, size and ``mtime_ns`` of every file under it; a re-read of an
    unchanged file or table directory passes that schema and plans with no
    job. Any rewrite changes the stamp, so the next read infers afresh and
    replaces the path's entry.
    Paths the driver cannot stat (non-local URIs) read exactly as
    ``spark.read.parquet``. Entries of earlier SparkSessions are evicted by
    ``applicationId``, like ``queries._memo_df``."""
    stamp = _file_stamp(path)
    if stamp is None:
        return spark.read.parquet(path)
    app = spark.sparkContext.applicationId
    key = (app, path)
    with _SCHEMAS_LOCK:
        for k in [k for k in _SCHEMAS if k[0] != app]:
            del _SCHEMAS[k]
        known = _SCHEMAS.get(key)
    if known is not None and known[0] == stamp:
        return spark.read.schema(known[1]).parquet(path)
    df = spark.read.parquet(path)
    with _SCHEMAS_LOCK:
        _SCHEMAS[key] = (stamp, df.schema)
    return df


def read_input(
    spark: SparkSession,
    path: str,
    fmt: str | None = None,
    row_id: bool = False,
) -> DataFrame:
    """Read one named input. CSV/TSV reproduce the reference's string-first
    contract: every column string, empty strings preserved, separator by
    suffix (``rulepack_runner.py:87-101``)."""
    fmt = fmt or ("parquet" if path.endswith(".parquet") else None)
    if fmt is None:
        fmt = "tsv" if path.endswith((".tsv", ".tab")) else "csv"
    if fmt == "parquet":
        df = read_parquet(spark, path)
    else:
        sep = "\t" if fmt == "tsv" else ","
        df = (
            spark.read.option("header", "true")
            .option("sep", sep)
            .option("inferSchema", "false")  # all-string, like dtype=str
            .option("nullValue", None)  # keep "" as "", like keep_default_na=False
            .csv(path)
        )
        df = df.select([F.coalesce(F.col(c), F.lit("")).alias(c) for c in df.columns])
    if row_id:
        # partition-offset ids = the file's line order (the reference's
        # 1-based pandas index), with no global sort
        df = with_row_id_ingest(df)
    return df


class ParquetDirCatalog:
    """Minimal Iceberg-shaped catalog over a directory of parquet tables.

    ``root/<table>/data/*.parquet`` + ``root/<table>/_snapshot.json``
    (fingerprint, row count, partition columns). The fingerprint is the
    stand-in for an Iceberg snapshot id — same contract: a stable string per
    immutable table state, used for attestation and checkpoint-resume.
    """

    def __init__(self, root: str):
        self.root = root

    def _dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def exists(self, name: str) -> bool:
        return os.path.exists(os.path.join(self._dir(name), "_snapshot.json"))

    def data_dir(self, name: str, snapshot_id: str | None = None) -> str:
        """Directory holding the data files of snapshot ``snapshot_id``
        (default: the current one) — the one place that decides where a
        table's data lives; ``read``, ``files``, ``row_count`` and
        ``write`` all go through it. This catalog keeps only the current
        snapshot, in ``<table>/data``."""
        if snapshot_id is not None and snapshot_id != self.snapshot(name)["snapshot_id"]:
            raise KeyError(f"{type(self).__name__} keeps only the current snapshot of {name!r}")
        return os.path.join(self._dir(name), "data")

    def read(self, spark: SparkSession, name: str, snapshot_id: str | None = None) -> DataFrame:
        return read_parquet(spark, self.data_dir(name, snapshot_id))

    def snapshot(self, name: str) -> dict:
        with open(os.path.join(self._dir(name), "_snapshot.json")) as f:
            return json.load(f)

    def row_count(self, name: str) -> int:
        """Exact row count from table metadata — parquet footers, no data
        scan (the Iceberg-manifest analog). Snapshots written by this class
        carry it precomputed; older snapshots fall back to a footer walk.
        Feed this to operators that otherwise pay a count() action for a
        sizing decision (e.g. ``knn_join(n_points=...)``)."""
        snap = self.snapshot(name)
        if "rows" in snap:
            return int(snap["rows"])
        return parquet_row_count(self.data_dir(name))

    def _snapshot_id(self, name: str, data_dir: str) -> str:
        """Identity of a freshly written table state. Content hash here;
        subclasses with a cheaper identity model (Iceberg: commit sequence
        numbers) override this so write() never pays the full-content
        hash."""
        return table_fingerprint(data_dir)

    def write(
        self,
        df: DataFrame,
        name: str,
        partition_by: list[str] | None = None,
        mode: str = "overwrite",
    ) -> dict:
        d = self._dir(name)
        data_dir = self.data_dir(name)
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(data_dir)
        snap = {
            "table": name,
            "snapshot_id": self._snapshot_id(name, data_dir),
            "partition_by": partition_by or [],
            "rows": parquet_row_count(data_dir),
        }
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "_snapshot.json"), "w") as f:
            json.dump(snap, f, sort_keys=True, indent=2)
        return snap

    def files(self, name: str, snapshot_id: str | None = None) -> list[dict]:
        """File manifest of a snapshot (current by default):
        [{path, bytes, rows}] with paths relative to its data dir — the
        Iceberg manifest-entry analog (file size and record count),
        consumed by maintenance planning (operators/maintenance.
        compaction_plan) and the pipeline runner's partition lineage.
        Metadata only: a directory walk, a stat and a footer per file."""
        import pyarrow.parquet as pq

        data_dir = self.data_dir(name, snapshot_id)
        out = []
        for root, _dirs, fns in os.walk(data_dir):
            for fn in fns:
                if fn.endswith(".parquet"):
                    p = os.path.join(root, fn)
                    out.append(
                        {
                            "path": os.path.relpath(p, data_dir),
                            "bytes": os.path.getsize(p),
                            "rows": pq.ParquetFile(p).metadata.num_rows,
                        }
                    )
        return sorted(out, key=lambda r: r["path"])


class IcebergLikeCatalog(ParquetDirCatalog):
    """ParquetDirCatalog whose snapshot ids are table-METADATA commit
    sequence numbers — the Iceberg identity model — instead of data-file
    hashes.

    This is the in-sandbox exercise of the Iceberg seam: everything that
    consumes a catalog (PipelineRunner resume fingerprints, dataset-id
    attestation inputs) binds to ``snapshot()["snapshot_id"]``, so proving
    resume semantics against ids that change per *commit* (not per byte
    content) demonstrates the exact behavior a real Iceberg catalog would
    produce. On a real deployment this class maps to
    ``spark.table(name)`` + the ``name.snapshots`` metadata table (newest
    ``snapshot_id``), enabled by the iceberg-spark-runtime ``--packages``
    jar — no engine change needed (the runner never looks at files, only
    at this interface).

    ``set_snapshot_id`` lets tests simulate an upstream commit (a new
    snapshot pointing at possibly-identical data): consumers MUST treat the
    input as changed, exactly like Iceberg's time-travel identity.
    """

    def _snapshot_id(self, name: str, data_dir: str) -> str:
        # commit sequence number, not a content hash: _snapshot.json still
        # holds the PREVIOUS commit when write() calls this (data is
        # written first, the snapshot file after), so the old id is
        # readable here — and the base class's full-content fingerprint is
        # never computed (the point of the Iceberg identity model: at scale
        # the commit metadata IS the identity, no byte re-read).
        prev_seq = -1
        if self.exists(name):
            sid = str(self.snapshot(name).get("snapshot_id", ""))
            if sid.startswith("commit-"):
                prev_seq = int(sid.split("-", 1)[1])
        return f"commit-{prev_seq + 1}"

    def set_snapshot_id(self, name: str, snapshot_id: str) -> None:
        snap = self.snapshot(name)
        snap["snapshot_id"] = snapshot_id
        with open(os.path.join(self._dir(name), "_snapshot.json"), "w") as f:
            json.dump(snap, f, sort_keys=True, indent=2)


def parquet_row_count(data_dir: str) -> int:
    """Sum of num_rows over every parquet footer under ``data_dir`` —
    metadata-only (footers are a few KB regardless of file size), the way a
    table format answers COUNT(*) from manifests instead of a scan."""
    import pyarrow.parquet as pq

    total = 0
    for root, _dirs, files in os.walk(data_dir):
        for fn in files:
            if fn.endswith(".parquet"):
                total += pq.ParquetFile(os.path.join(root, fn)).metadata.num_rows
    return total


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 64,
    sort: bool = True,
) -> None:
    """Persist a table bucketed (and bucket-sorted) by the join key — the
    10^12-row co-location strategy: two tables bucketed identically on
    their join key sort-merge-join with NO Exchange (and with ``sort``,
    no per-task Sort either). This is the `broadcast_geo=False` path of
    the north pipeline: at full scale the geo table stops fitting in
    broadcast and both sides are written this way instead.

    Uses the session catalog (`saveAsTable` — bucket metadata lives in the
    metastore; plain `.parquet()` writes cannot record bucketing). Under
    Iceberg the same declaration is `PARTITIONED BY (bucket(N, col))`."""
    w = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, bucket_col)
    if sort:
        w = w.sortBy(bucket_col)
    w.saveAsTable(table)


class VersionedParquetDirCatalog(IcebergLikeCatalog):
    """IcebergLikeCatalog plus the snapshot LOG — time travel and
    rollback, the remaining Iceberg table-semantics pieces a pipeline
    consumer can exercise in-sandbox (reference has no table format at
    all; Iceberg spec's snapshot log is the public model).

    Layout per table: each commit writes an immutable ``data-v<seq>/``
    directory and appends ``{seq, snapshot_id, dir, rows, partition_by}``
    to ``_snapshot_log.json``; ``_snapshot.json`` always mirrors the
    CURRENT entry, and ``data_dir`` resolves a snapshot to its version
    dir, so every base-class consumer (PipelineRunner resume, row_count,
    maintenance manifests) works unchanged.

    - ``read(spark, name, snapshot_id=...)`` / ``files(name,
      snapshot_id=...)`` — time travel to any logged snapshot (Iceberg
      ``VERSION AS OF``).
    - ``rollback(name, snapshot_id)`` — a NEW commit whose data dir is
      the old snapshot's (Iceberg rollback keeps history immutable and
      appends; it never deletes the intermediate snapshots).
    - ``history(name)`` — the log, oldest first.

    Old ``data-v*`` dirs are never rewritten — a reader holding snapshot
    N is immune to a concurrent commit N+1 (the snapshot-isolation
    property object-store tables get from immutable files)."""

    def _log_path(self, name: str) -> str:
        return os.path.join(self._dir(name), "_snapshot_log.json")

    def history(self, name: str) -> list[dict]:
        if not os.path.exists(self._log_path(name)):
            return []
        with open(self._log_path(name)) as f:
            return json.load(f)

    def _append_commit(self, name: str, entry: dict) -> dict:
        log = self.history(name)
        log.append(entry)
        d = self._dir(name)
        os.makedirs(d, exist_ok=True)
        with open(self._log_path(name), "w") as f:
            json.dump(log, f, sort_keys=True, indent=2)
        snap = {
            "table": name,
            "snapshot_id": entry["snapshot_id"],
            "partition_by": entry["partition_by"],
            "rows": entry["rows"],
        }
        with open(os.path.join(d, "_snapshot.json"), "w") as f:
            json.dump(snap, f, sort_keys=True, indent=2)
        return snap

    def write(
        self,
        df: DataFrame,
        name: str,
        partition_by: list[str] | None = None,
        mode: str = "overwrite",
    ) -> dict:
        if mode != "overwrite":
            raise ValueError(
                "VersionedParquetDirCatalog commits are whole-table snapshots; "
                f"mode must be 'overwrite', got {mode!r}"
            )
        seq = len(self.history(name))
        rel = f"data-v{seq}"
        data_dir = os.path.join(self._dir(name), rel)
        w = df.write.mode("error")  # version dirs are immutable by contract
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(data_dir)
        return self._append_commit(
            name,
            {
                "seq": seq,
                "snapshot_id": f"commit-{seq}",
                "dir": rel,
                "partition_by": partition_by or [],
                "rows": parquet_row_count(data_dir),
            },
        )

    def _entry(self, name: str, snapshot_id: str | None) -> dict:
        log = self.history(name)
        if not log:
            raise FileNotFoundError(f"no snapshots for table {name!r}")
        if snapshot_id is None:
            return log[-1]
        for e in reversed(log):
            if e["snapshot_id"] == snapshot_id:
                return e
        known = [e["snapshot_id"] for e in log]
        raise KeyError(f"snapshot {snapshot_id!r} not in log for {name!r}: {known}")

    def data_dir(self, name: str, snapshot_id: str | None = None) -> str:
        """The ``data-v<seq>/`` dir of a logged snapshot (current by
        default): time travel for ``read`` and ``files``."""
        return os.path.join(self._dir(name), self._entry(name, snapshot_id)["dir"])

    def rollback(self, name: str, snapshot_id: str) -> dict:
        """Append a NEW commit pointing at ``snapshot_id``'s immutable data
        dir; history between is preserved (auditable), current state
        becomes the old data."""
        old = self._entry(name, snapshot_id)
        seq = len(self.history(name))
        return self._append_commit(
            name,
            {
                "seq": seq,
                "snapshot_id": f"commit-{seq}",
                "dir": old["dir"],
                "partition_by": old["partition_by"],
                "rows": old["rows"],
                "rolled_back_to": snapshot_id,
            },
        )

    def exists(self, name: str) -> bool:
        return bool(self.history(name))

    def orphan_files(
        self, name: str, keep_snapshot_ids: set[str] | None = None
    ) -> list[str]:
        """The ``deleteOrphanFiles`` decision as data: every path under
        the table directory that NO kept snapshot references — version
        dirs dropped by retention (pass the ids ``expire_snapshots_plan``
        labeled recent/daily), stray files a crashed writer left outside
        any version dir, and non-parquet debris (temp chunks) inside a
        kept one. A kept dir's ``.parquet`` files are never reported: the
        catalog keeps no per-file manifest, so a crashed writer's stray
        ``part-*.parquet`` there is indistinguishable from a member.
        Catalog metadata (`_snapshot.json`, `_snapshot_log.json`) is
        never orphaned. Default (``None``) keeps every logged snapshot —
        then only stray files surface. Metadata-only (one directory
        walk); the caller deletes, this only plans — same contract as the
        other maintenance planners. Paths are relative to the table dir,
        sorted."""
        log = self.history(name)
        if not log:
            raise FileNotFoundError(f"no snapshots for table {name!r}")
        kept_dirs = {
            e["dir"]
            for e in log
            if keep_snapshot_ids is None or e["snapshot_id"] in keep_snapshot_ids
        }
        meta = {"_snapshot.json", "_snapshot_log.json"}
        d = self._dir(name)
        out = []
        for root, _dirs, fns in os.walk(d):
            for fn in fns:
                rel = os.path.relpath(os.path.join(root, fn), d)
                top = rel.split(os.sep, 1)[0]
                if rel in meta:
                    continue
                if top in kept_dirs:
                    # a LIVE version dir has no per-file manifest (files()
                    # walks it too), so every parquet file in it counts as
                    # a member: only non-parquet debris is orphaned here,
                    # a stray part-*.parquet from a crashed writer is not
                    if fn.endswith(".parquet") or fn == "_SUCCESS" or fn.endswith(".crc"):
                        continue
                out.append(rel)
        return sorted(out)
