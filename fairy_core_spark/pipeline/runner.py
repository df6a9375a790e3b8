"""Checkpoint-resumable staged pipeline with per-partition lineage +
metrics tables (north rule; fingerprint idea from the reference's ADR-0006
/ ``provenance.py:131-159`` applied per stage).

A job is an ordered list of stages. Each stage:
  inputs (table names) -> transform(spark, {name: DataFrame}) -> output table

On success the runner commits the output through the catalog, with the
stage fingerprint (stage name, version and input snapshot ids) in the
commit's summary, and appends lineage rows (stage, input snapshot ids,
rows out from the commit, wall ms), one partition-lineage row per file
of the catalog's file manifest, and per-stage metrics. On re-submit, a
stage is **skipped** when its output table's current commit carries the
stage's fingerprint — so a killed job resumes after the last completed
stage with byte-identical outputs (SURVEY.md §5 item 4 resume test). A
write that crashes commits nothing, so its table keeps the previous
snapshot and that snapshot's fingerprint. Snapshot ids are content
hashes, so a recompute that writes the same rows, in any file order,
keeps its snapshot id and the stages downstream of it still skip.

The skip decision reads only the newest commit file of each table, so a
stage's inputs are read only when it runs, and the lineage JSONL files
are mirrored to parquet on the driver with pyarrow: a re-submit that
skips every stage runs no Spark job. An out_dir in an older layout
(``<table>/data`` with ``_snapshot.json``) has no commits, so it reads as
empty and every stage recomputes.

The flagship pipeline (validate -> encode -> spatial-join -> tile) is
assembled in ``image_pipeline`` and submitted via::

    spark-submit --py-files fairy_core_spark.zip -m fairy_core_spark.pipeline.runner \
        --out-dir /data/run1 --n-images 1000000
"""

from __future__ import annotations

import argparse
import json
import os
import time
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from fairy_core_spark.plans.provenance import canonical_json, sha256_hex
from fairy_core_spark.sources.tables import ParquetDirCatalog


@dataclass
class Stage:
    name: str
    inputs: list[str]  # catalog table names ('' entries allowed for sources)
    transform: Callable[[SparkSession, dict[str, DataFrame]], DataFrame]
    output: str
    partition_by: list[str] | None = None
    version: str = "1"  # bump to force recompute on logic changes


def _json_inferred_shape(arr):
    """``arr`` in the shape ``spark.read.json`` infers for the same JSON:
    struct fields sorted by name at every depth (pyarrow documents no
    field order for inferred structs), and a struct with no fields
    dropped (None), as Spark drops an object that is empty in every row."""
    import pyarrow as pa

    if not pa.types.is_struct(arr.type):
        return arr
    kept = {}
    for name in sorted(f.name for f in arr.type):
        child = _json_inferred_shape(arr.field(name))
        if child is not None:
            kept[name] = child
    if not kept:
        return None
    return pa.StructArray.from_arrays(list(kept.values()), names=list(kept), mask=arr.is_null())


class PipelineRunner:
    def __init__(self, spark: SparkSession, out_dir: str, catalog: ParquetDirCatalog | None = None):
        self.spark = spark
        # resume/lineage bind ONLY to this interface (read/write/snapshot/
        # files) — swapping in an Iceberg-backed catalog (snapshot ids from
        # commit metadata) changes nothing else in the runner.
        self.catalog = catalog if catalog is not None else ParquetDirCatalog(out_dir)
        self.out_dir = out_dir
        os.makedirs(out_dir, exist_ok=True)
        # NOTE: no leading underscore — Spark readers treat _-prefixed files
        # as hidden metadata and skip them
        self._lineage_path = os.path.join(out_dir, "lineage.jsonl")
        self._metrics_path = os.path.join(out_dir, "metrics.jsonl")
        self._partition_lineage_path = os.path.join(out_dir, "lineage_partitions.jsonl")

    # ---- lineage / metrics (driver-appended JSONL + parquet mirrors) ----

    def _append(self, path: str, row: dict) -> None:
        with open(path, "a") as f:
            f.write(canonical_json(row) + "\n")

    def _write_mirror(self, jsonl_path: str, table: str) -> None:
        """Rewrite ``out_dir/<table>/`` as one parquet file holding every
        row of ``jsonl_path``, with the schema ``spark.read.json`` infers
        from it. Driver-side, no Spark job. The new file is written under
        a hidden name, the directory's other entries (an earlier mirror,
        or ``part-*`` files a Spark writer left there) are removed, and
        only then is the file renamed into view, so the directory never
        yields a row twice."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        if not os.path.exists(jsonl_path):
            return
        with open(jsonl_path) as f:
            # json + pa.array rather than pyarrow.json: Python type
            # inference keeps every string a string, as spark.read.json
            # does; pyarrow.json would turn ISO-looking ones into timestamps
            rows = [json.loads(line) for line in f]
        data = pa.Table.from_struct_array(_json_inferred_shape(pa.array(rows)))
        d = os.path.join(self.out_dir, table)
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, ".mirror.parquet.tmp")
        pq.write_table(data, tmp)
        for fn in os.listdir(d):
            if fn != os.path.basename(tmp):
                os.remove(os.path.join(d, fn))
        os.replace(tmp, os.path.join(d, "part-0.parquet"))

    def _stage_fingerprint(self, stage: Stage, input_snaps: dict[str, str]) -> str:
        payload = {"stage": stage.name, "version": stage.version, "inputs": input_snaps}
        return sha256_hex(canonical_json(payload).encode())

    def run(
        self,
        stages: list[Stage],
        sources: dict[str, DataFrame] | None = None,
        source_snaps: dict[str, str] | None = None,
    ) -> dict:
        """Execute stages in order; returns {stage: status} summary.

        ``sources`` injects DataFrames by input name, bypassing the
        catalog. The runner cannot observe their content, so by default an
        injected source fingerprints as CHANGED every run — stages fed by
        one always recompute (safe: a stale skip over changed data would
        violate the byte-identical-resume guarantee; recompute merely costs
        time). Callers that can attest content identity (e.g. the frame is
        a pure function of recorded parameters) pass ``source_snaps[name]``
        — a stable string that then participates in the stage fingerprint
        exactly like a catalog snapshot id."""
        sources = sources or {}
        source_snaps = source_snaps or {}
        status: dict[str, str] = {}
        for stage in stages:
            input_snaps: dict[str, str] = {}
            for name in stage.inputs:
                if name not in sources:
                    input_snaps[name] = self.catalog.snapshot(name)["snapshot_id"]
                elif name in source_snaps:
                    input_snaps[name] = f"source:{name}:{source_snaps[name]}"
                else:
                    # content-blind: unique per run -> never skips
                    # (plan hashes are NOT stable across processes —
                    # semanticHash embeds per-session ids — so there is
                    # no cheap content-true fingerprint to take here)
                    input_snaps[name] = f"source:{name}:volatile-{os.urandom(8).hex()}"
            fp = self._stage_fingerprint(stage, input_snaps)

            out = stage.output
            try:
                done = self.catalog.snapshot(out)["summary"].get("stage_fingerprint")
            except FileNotFoundError:  # no commit yet
                done = None
            if done == fp:
                status[stage.name] = "skipped"
                self._append(
                    self._lineage_path,
                    {"stage": stage.name, "status": "skipped", "fingerprint": fp},
                )
                continue

            t0 = time.monotonic()
            frames = {
                name: sources[name] if name in sources else self.catalog.read(self.spark, name)
                for name in stage.inputs
            }
            out_df = stage.transform(self.spark, frames)
            snap = self.catalog.write(
                out_df, out, partition_by=stage.partition_by, summary={"stage_fingerprint": fp}
            )
            wall_ms = int((time.monotonic() - t0) * 1000)
            rows_out = snap["rows"]
            # per-output-file lineage from the catalog's file manifest
            # (footers only, no Spark pass; the Iceberg manifest listing)
            for i, f in enumerate(self.catalog.files(out)):
                self._append(
                    self._partition_lineage_path,
                    {"stage": stage.name, "fingerprint": fp, "partition_id": i,
                     "file": f["path"], "rows": f["rows"], "bytes": f["bytes"]},
                )
            status[stage.name] = "completed"
            self._append(
                self._lineage_path,
                {
                    "stage": stage.name,
                    "status": "completed",
                    "fingerprint": fp,
                    "inputs": input_snaps,
                    "output_snapshot": snap["snapshot_id"],
                    "rows_out": rows_out,
                    "wall_ms": wall_ms,
                },
            )
            self._append(
                self._metrics_path,
                {"stage": stage.name, "rows_out": rows_out, "wall_ms": wall_ms},
            )
        self._write_mirror(self._lineage_path, "lineage_table")
        self._write_mirror(self._partition_lineage_path, "lineage_partitions_table")
        return status


# ------------------------- the flagship image pipeline -------------------------


def image_pipeline_stages(
    n_images: int, tile_level: int = 12, cell_scheme: str = "s2"
) -> list[Stage]:
    """validate -> encode(+geo) -> spatial-join -> tile (north-rule order).
    ``cell_scheme``: "s2" (default) or "hex7" (pass a hex7 res as
    ``tile_level``); baked into the encode stage version so switching
    schemes invalidates the checkpoint instead of resuming stale cells."""
    from fairy_core_spark.datagen.images import geo_df, images_df, polygons_pdf
    from fairy_core_spark.operators.images import with_image_checks
    from fairy_core_spark.spatial.ops import (
        spatial_join_broadcast,
        spatial_prefix_col,
        tile_aggregates,
        with_cell,
    )
    from pyspark.sql import functions as F

    def gen_images(spark, _):
        return images_df(spark, n_images)

    def gen_geo(spark, _):
        return geo_df(spark, n_images)

    def validate(spark, frames):
        return with_image_checks(frames["images"])

    def encode(spark, frames):
        valid = frames["validated"].where(
            F.col("decode_ok") & F.col("dims_ok") & F.col("caption_ok")
        )
        tagged = valid.join(frames["geo"], "image_id")
        return with_cell(tagged, "lat", "lon", tile_level, out="cell", scheme=cell_scheme)

    def join_polygons(spark, frames):
        return spatial_join_broadcast(
            frames["encoded"].select("image_id", "lat", "lon"), polygons_pdf(100)
        )

    def tile(spark, frames):
        enc = frames["encoded"].withColumnRenamed("cell", "tile_id")
        n = spark.sparkContext.defaultParallelism * 2
        prefix = spatial_prefix_col("tile_id", cell_scheme)
        tiled = enc.withColumn("tile_prefix", prefix).repartition(n, "tile_prefix")
        return tile_aggregates(tiled)

    gen_v = f"1:n={n_images}"  # param change must invalidate the checkpoint
    return [
        Stage("gen_images", [], gen_images, "images", version=gen_v),
        Stage("gen_geo", [], gen_geo, "geo", version=gen_v),
        Stage("validate", ["images"], validate, "validated"),
        Stage("encode", ["validated", "geo"], encode, "encoded",
              version=f"1:level={tile_level}:scheme={cell_scheme}"),
        Stage("spatial_join", ["encoded"], join_polygons, "pip_pairs"),
        Stage("tile", ["encoded"], tile, "tiles"),
    ]


def main() -> int:
    from fairy_core_spark.session import get_spark

    ap = argparse.ArgumentParser(description="fairy-core-spark image pipeline")
    ap.add_argument("--out-dir", required=True)
    ap.add_argument("--n-images", type=int, default=100_000)
    ap.add_argument("--tile-level", type=int, default=12)
    ap.add_argument("--cell-scheme", default="s2", choices=["s2", "hex7"])
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    spark = get_spark(app_name="fairy-image-pipeline", master=args.master)
    runner = PipelineRunner(spark, args.out_dir)
    status = runner.run(
        image_pipeline_stages(args.n_images, args.tile_level, args.cell_scheme)
    )
    print(json.dumps(status, sort_keys=True))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
