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
(no Iceberg runtime jar in this sandbox). ``ParquetDirCatalog`` adds the
Iceberg semantics the engine needs: immutable snapshots committed
put-if-absent (a crashed write changes nothing readers see; a losing
concurrent writer gets ``CommitConflict``), content snapshot ids the write
job computes itself (checkpoint/resume identity), a snapshot log (time
travel, rollback) and a per-file manifest with sizes and row counts
(lineage, maintenance planning). Swapping in real Iceberg is a config
change (``spark.sql.catalog...`` + ``spark.table``), not a code change.

Parquet reads (inputs, catalog tables, the query registry) go through
``read_parquet``, which keeps the schema Spark inferred for a file so a
re-read of the unchanged file runs no inference job.
"""

from __future__ import annotations

import json
import os
import threading
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from fairy_core_spark.plans.provenance import canonical_json, sha256_hex

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


class CommitConflict(RuntimeError):
    """Another writer committed the table's next snapshot first."""


def observe_content(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with an ``Observation`` of its row count (``rows``) and the
    sum of its row hashes (``row_hash_sum``) attached. Attached directly
    before an action, both are computed by that action's own tasks, each
    successful task counted once, and neither depends on row order or
    partitioning.

    A row hashes as ``xxhash64`` over every column, prefixed by a string
    that marks which columns are null (``xxhash64`` skips nulls, so
    ``(null, 1)`` and ``(1, null)`` would otherwise collide); Spark refuses
    to hash map columns. The sum is ``decimal(38,0)``, because a ``bigint``
    sum of 64-bit hashes overflows under ANSI; an empty frame observes
    None. The hash is one SQL expression: each ``F`` call is a py4j round
    trip, and the per-column form took ~70 ms for 21 columns (4-core box)
    on every write."""
    cols = [f"`{c.replace('`', '``')}`" for c in df.columns]
    mask = ", ".join(f"IF({c} IS NULL, '1', '0')" for c in cols)
    h = f"sum(CAST(xxhash64(concat({mask}), {', '.join(cols)}) AS decimal(38,0)))"
    obs = Observation()
    return df.observe(obs, F.expr("count(1)").alias("rows"), F.expr(h).alias("row_hash_sum")), obs


def _commit_seq(filename: str) -> int | None:
    """The sequence number a ``_commits/<seq>.json`` file name holds."""
    stem = filename[: -len(".json")]
    return int(stem) if filename.endswith(".json") and stem.isdigit() else None


class ParquetDirCatalog:
    """Iceberg-shaped catalog over a directory of parquet tables.

    Per table:

    - ``<table>/data-<token>/`` — one directory per write, never reused
      and never rewritten, so a reader holding a snapshot is immune to
      later commits.
    - ``<table>/_commits/<seq>.json`` — one file per commit: ``seq``,
      ``snapshot_id``, ``dir``, ``rows``, ``partition_by`` and a
      ``summary`` dict the writer passes (Iceberg's snapshot summary). A
      commit file is created only if it does not exist yet (a hard link of
      a complete temp file), so readers see whole commits, and of two
      writers that started from the same sequence one wins and the other
      gets :class:`CommitConflict`. A write that crashes commits nothing:
      readers keep seeing the previous snapshot.

    The current snapshot is the highest ``seq``; ``history`` is every
    commit in order; ``read``/``files`` take a ``snapshot_id`` for time
    travel, and ``rollback`` commits an old snapshot again.

    The snapshot id is a content hash the write job computes itself
    (:func:`observe_content`): row count and row-hash sum, with the schema
    and ``partition_by``. No file is re-read, and a recompute that writes
    the same rows keeps its id in any file or row order. It is a resume
    identity, not an attestation: report attestation keeps the sha256 of
    ``plans.provenance.table_fingerprint``.

    Directories of old snapshots, and of crashed or losing writes, stay
    until the caller deletes what ``orphan_files`` (or
    ``operators.maintenance.expire_snapshots_plan``, for which snapshots
    to keep) plans. A table in the older ``data/`` + ``_snapshot.json``
    layout has no commits, so it reads as missing."""

    def __init__(self, root: str):
        self.root = root

    def _dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _commits_dir(self, name: str) -> str:
        return os.path.join(self._dir(name), "_commits")

    def _seqs(self, name: str) -> list[int]:
        try:
            found = map(_commit_seq, os.listdir(self._commits_dir(name)))
        except FileNotFoundError:
            return []
        return sorted(s for s in found if s is not None)

    def _load(self, name: str, seq: int) -> dict:
        with open(os.path.join(self._commits_dir(name), f"{seq}.json")) as f:
            return json.load(f)

    def exists(self, name: str) -> bool:
        return bool(self._seqs(name))

    def snapshot(self, name: str) -> dict:
        """The current commit: only the newest commit file is read."""
        seqs = self._seqs(name)
        if not seqs:
            raise FileNotFoundError(f"no snapshots for table {name!r}")
        return self._load(name, seqs[-1])

    def history(self, name: str) -> list[dict]:
        return [self._load(name, s) for s in self._seqs(name)]

    def _entry(self, name: str, snapshot_id: str | None) -> dict:
        if snapshot_id is None:
            return self.snapshot(name)
        log = self.history(name)
        for e in reversed(log):
            if e["snapshot_id"] == snapshot_id:
                return e
        known = [e["snapshot_id"] for e in log]
        raise KeyError(f"snapshot {snapshot_id!r} not in log for {name!r}: {known}")

    def data_dir(self, name: str, snapshot_id: str | None = None) -> str:
        """Directory holding the data files of snapshot ``snapshot_id``
        (default: the current one) — the one place that decides where a
        table's data lives; ``read`` and ``files`` go through it."""
        return os.path.join(self._dir(name), self._entry(name, snapshot_id)["dir"])

    def read(self, spark: SparkSession, name: str, snapshot_id: str | None = None) -> DataFrame:
        return read_parquet(spark, self.data_dir(name, snapshot_id))

    def row_count(self, name: str) -> int:
        """Exact row count from table metadata, with no data scan (the
        Iceberg-manifest analog). Feed this to operators that otherwise
        pay a count() action for a sizing decision (e.g.
        ``knn_join(n_points=...)``)."""
        return int(self.snapshot(name)["rows"])

    def _commit(self, name: str, entry: dict) -> dict:
        d = self._commits_dir(name)
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".{entry['seq']}-{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            json.dump(entry, f, sort_keys=True, indent=2)
        try:
            os.link(tmp, os.path.join(d, f"{entry['seq']}.json"))
        except FileExistsError:
            raise CommitConflict(
                f"table {name!r}: another writer committed snapshot {entry['seq']} first"
            ) from None
        finally:
            os.remove(tmp)
        return entry

    def write(
        self,
        df: DataFrame,
        name: str,
        partition_by: list[str] | None = None,
        summary: dict | None = None,
    ) -> dict:
        """Write ``df`` to a fresh data dir and commit it as the snapshot
        after the one current when the write started; returns the commit.
        Raises :class:`CommitConflict` when another writer committed that
        sequence number meanwhile (its data dir is then left for
        ``orphan_files``)."""
        seqs = self._seqs(name)
        partition_by = list(partition_by or [])
        rel = f"data-{uuid.uuid4().hex}"
        observed, obs = observe_content(df)
        w = observed.write
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(os.path.join(self._dir(name), rel))
        got = obs.get
        content = {
            "rows": got["rows"],
            "row_hash_sum": str(got["row_hash_sum"]),
            "schema": df.schema.jsonValue(),
            "partition_by": partition_by,
        }
        return self._commit(
            name,
            {
                "seq": seqs[-1] + 1 if seqs else 0,
                "snapshot_id": sha256_hex(canonical_json(content).encode()),
                "dir": rel,
                "rows": got["rows"],
                "partition_by": partition_by,
                "summary": dict(summary or {}),
            },
        )

    def rollback(self, name: str, snapshot_id: str) -> dict:
        """Commit ``snapshot_id`` again, as a new commit with its id, data
        dir and summary; the history between stays (Iceberg rollback
        appends, it never deletes the intermediate snapshots)."""
        old = self._entry(name, snapshot_id)
        seq = self._seqs(name)[-1] + 1
        return self._commit(name, {**old, "seq": seq, "rolled_back_to": snapshot_id})

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

    def orphan_files(
        self, name: str, keep_snapshot_ids: set[str] | None = None
    ) -> list[str]:
        """The ``deleteOrphanFiles`` decision as data: what under the table
        directory no kept snapshot references, as paths relative to it,
        sorted. A top-level entry that no kept commit names is reported
        whole, by its name: the data dirs of snapshots dropped by
        retention (pass the ids ``expire_snapshots_plan`` labeled
        recent/daily), the ``data-<token>`` dir of a write that crashed or
        lost a commit race, a layout older than ``_commits/``, stray files.
        Inside a kept data dir only non-parquet debris is reported: a data
        dir is never reused, so its parquet files are all its own
        commit's. Inside ``_commits/`` only what is not a commit file (the
        temp file of a commit that crashed). Default (``None``) keeps every
        committed snapshot. Metadata-only; the caller deletes, this only
        plans — same contract as the other maintenance planners."""
        kept = {
            e["dir"]
            for e in self.history(name)
            if keep_snapshot_ids is None or e["snapshot_id"] in keep_snapshot_ids
        }
        d = self._dir(name)
        out = []
        for top in os.listdir(d):
            if top != "_commits" and top not in kept:
                out.append(top)
                continue
            for root, _dirs, fns in os.walk(os.path.join(d, top)):
                for fn in fns:
                    if top == "_commits":
                        member = _commit_seq(fn) is not None
                    else:
                        member = fn.endswith((".parquet", ".crc")) or fn == "_SUCCESS"
                    if not member:
                        out.append(os.path.relpath(os.path.join(root, fn), d))
        return sorted(out)


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
