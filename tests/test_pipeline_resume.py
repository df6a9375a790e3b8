"""Checkpoint-resume contract (SURVEY.md §5 item 4): a re-submitted job
skips completed stages via lineage fingerprints; outputs stay identical;
bumping a stage version forces recompute of that stage."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from fairy_core_spark.pipeline.runner import PipelineRunner, Stage, image_pipeline_stages
from fairy_core_spark.plans.provenance import table_fingerprint


def test_resume_skips_completed_stages(spark, tmp_path):
    out = str(tmp_path / "run")
    stages = image_pipeline_stages(n_images=200, tile_level=10)

    r1 = PipelineRunner(spark, out)
    s1 = r1.run(stages)
    assert all(v == "completed" for v in s1.values())
    tiles_snap_1 = r1.catalog.snapshot("tiles")["snapshot_id"]
    tiles_fp_1 = table_fingerprint(f"{out}/tiles/data")

    # resubmit: everything skips, outputs untouched, and no Spark job runs
    # (inputs are read only for stages that execute; mirrors are driver-side)
    sc = spark.sparkContext
    sc.setJobGroup("resubmit", "all-skipped resubmit")
    try:
        r2 = PipelineRunner(spark, out)
        s2 = r2.run(image_pipeline_stages(n_images=200, tile_level=10))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("resubmit") == []
    assert all(v == "skipped" for v in s2.values())
    assert r2.catalog.snapshot("tiles")["snapshot_id"] == tiles_snap_1
    assert table_fingerprint(f"{out}/tiles/data") == tiles_fp_1

    # lineage recorded both passes
    lines = [json.loads(x) for x in open(f"{out}/lineage.jsonl")]
    assert sum(1 for x in lines if x["status"] == "completed") == len(stages)
    assert sum(1 for x in lines if x["status"] == "skipped") == len(stages)

    # version bump (parameter change) invalidates only the changed stage +
    # its downstream consumers re-read fresh snapshots
    stages3 = image_pipeline_stages(n_images=200, tile_level=10)
    stages3[2].version = "2"  # validate stage logic changed
    r3 = PipelineRunner(spark, out)
    s3 = r3.run(stages3)
    assert s3["gen_images"] == "skipped"
    assert s3["validate"] == "completed"


def test_resume_binds_to_snapshot_identity_not_file_bytes(spark, tmp_path):
    """The Iceberg seam: with a catalog whose snapshot ids are commit
    metadata (IcebergLikeCatalog), flipping an input table's snapshot id —
    data files untouched — must re-execute every downstream stage, exactly
    as a new Iceberg commit would. Proves the runner fingerprints inputs by
    snapshot identity, not by hashing bytes itself."""
    from fairy_core_spark.sources.tables import IcebergLikeCatalog

    out = str(tmp_path / "iceberg_run")
    stages = image_pipeline_stages(n_images=150, tile_level=9)

    cat1 = IcebergLikeCatalog(out)
    r1 = PipelineRunner(spark, out, catalog=cat1)
    s1 = r1.run(stages)
    assert all(v == "completed" for v in s1.values())
    # commit-sequence ids, not sha256 file hashes
    assert cat1.snapshot("images")["snapshot_id"] == "commit-0"

    # resubmit: same snapshot ids -> all skipped
    r2 = PipelineRunner(spark, out, catalog=IcebergLikeCatalog(out))
    assert all(v == "skipped" for v in r2.run(image_pipeline_stages(150, 9)).values())

    # upstream commit: flip the images snapshot id ONLY (bytes identical)
    cat3 = IcebergLikeCatalog(out)
    cat3.set_snapshot_id("images", "commit-7")
    r3 = PipelineRunner(spark, out, catalog=cat3)
    s3 = r3.run(image_pipeline_stages(150, 9))
    assert s3["gen_images"] == "skipped"  # source stage: no catalog inputs
    assert s3["validate"] == "completed"  # consumes images -> re-executed
    # downstream of validate re-executes too (validated got a new commit id)
    assert s3["encode"] == "completed"


def test_injected_sources_never_stale_skip(spark, tmp_path):
    """A stage fed by an injected DataFrame must recompute every run by
    default (the runner cannot observe injected content, so skipping could
    resume over stale data); an explicit source_snaps attestation restores
    skip, and changing the attested id invalidates."""
    out = str(tmp_path / "inj")

    def passthrough(spark_, frames):
        return frames["ext"]

    stages = [Stage("copy", ["ext"], passthrough, "copied")]
    src = spark.range(0, 10).withColumnRenamed("id", "n")

    r = PipelineRunner(spark, out)
    assert r.run(stages, sources={"ext": src})["copy"] == "completed"
    # content-blind default: second run recomputes, never skips
    assert r.run(stages, sources={"ext": src})["copy"] == "completed"
    # attested identity: skip works like a catalog snapshot id
    snaps = {"ext": "v1"}
    assert r.run(stages, sources={"ext": src}, source_snaps=snaps)["copy"] == "completed"
    assert r.run(stages, sources={"ext": src}, source_snaps=snaps)["copy"] == "skipped"
    # new attested id -> recompute
    assert (
        r.run(stages, sources={"ext": src}, source_snaps={"ext": "v2"})["copy"]
        == "completed"
    )


def test_crash_mid_recompute_cannot_leave_valid_marker(spark, tmp_path):
    """The completion marker is invalidated BEFORE a recompute writes: a
    stage that crashes mid-overwrite must not leave the old marker behind,
    or a later resubmit with the original fingerprint would skip over
    partial data."""
    out = str(tmp_path / "crash")

    def gen(spark_, _frames):
        return spark_.range(0, 5)

    stages = [Stage("gen", [], gen, "t")]
    r = PipelineRunner(spark, out)
    assert r.run(stages)["gen"] == "completed"
    marker = os.path.join(out, "t", "_stage_fingerprint")
    assert os.path.exists(marker)

    def boom(spark_, _frames):
        raise RuntimeError("killed mid-recompute")

    crashing = [Stage("gen", [], boom, "t", version="2")]
    try:
        r.run(crashing)
    except RuntimeError:
        pass
    assert not os.path.exists(marker)  # stale marker gone
    # revert to the original version: must RECOMPUTE (not skip) because the
    # marker no longer vouches for the (possibly partial) table state
    assert r.run(stages)["gen"] == "completed"


def _assert_mirror_matches_jsonl(spark, out, jsonl, table):
    want = spark.read.json(os.path.join(out, jsonl))
    got = spark.read.parquet(os.path.join(out, table))
    assert got.schema == want.schema
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_lineage_mirrors_read_back_like_their_jsonl(spark, tmp_path):
    """Each parquet mirror reads back with the rows and the schema that
    spark.read.json infers from its JSONL: columns and nested ``inputs``
    fields sorted by name, an input-less stage's empty ``inputs`` dropped.
    A directory that a Spark writer filled earlier is replaced, not added
    to."""
    out = str(tmp_path / "mirror")
    os.makedirs(out)
    # an out_dir reused from a Spark-written mirror: part-* files + _SUCCESS
    old = spark.createDataFrame(
        [("old", "skipped", "x")], "stage string, status string, fingerprint string"
    )
    old.write.parquet(os.path.join(out, "lineage_table"))

    def gen(spark_, _frames):
        return spark_.range(0, 40).withColumn("k", F.col("id") % 3)

    def join(spark_, frames):
        return frames["zeta"].join(frames["alpha"], ["id", "k"])

    stages = [
        Stage("zeta", [], gen, "zeta", partition_by=["k"]),
        Stage("alpha", [], gen, "alpha"),
        Stage("join", ["zeta", "alpha"], join, "joined"),
    ]
    r = PipelineRunner(spark, out)
    assert set(r.run(stages).values()) == {"completed"}
    assert set(r.run(stages).values()) == {"skipped"}

    _assert_mirror_matches_jsonl(spark, out, "lineage.jsonl", "lineage_table")
    _assert_mirror_matches_jsonl(spark, out, "lineage_partitions.jsonl", "lineage_partitions_table")
    lineage = spark.read.parquet(os.path.join(out, "lineage_table"))
    assert lineage.count() == 6
    assert lineage.schema["inputs"].dataType.fieldNames() == ["alpha", "zeta"]


CRASH_STAGES = ("validate", "encode", "spatial_join", "tile")


def _sorted_rows(spark, out, table):
    return sorted(spark.read.parquet(f"{out}/{table}/data").collect())


@pytest.fixture(scope="module")
def uncrashed_tiles(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("uncrashed"))
    PipelineRunner(spark, out).run(image_pipeline_stages(n_images=60, tile_level=8))
    return _sorted_rows(spark, out, "tiles")


@pytest.mark.parametrize("crash_at", CRASH_STAGES)
def test_crash_then_resume_at_every_stage(spark, tmp_path, uncrashed_tiles, crash_at):
    """Stage ``crash_at`` fails partway through its write job (tasks raise
    on some rows). It leaves no completion marker; the resubmit skips
    every stage before it, completes it and every stage after it, and the
    final ``tiles`` table holds the rows of an uncrashed run. (Rows, not
    ``table_fingerprint``: that hashes file names, which carry the UUID
    of the Spark job that wrote them.)"""
    out = str(tmp_path / "run")
    stages = image_pipeline_stages(n_images=60, tile_level=8)
    names = [s.name for s in stages]
    k = names.index(crash_at)
    good = stages[k].transform

    def crashing(spark_, frames):
        df = good(spark_, frames)
        c = df.columns[0]
        hit = F.xxhash64(F.col(c)) % 3 == 0
        return df.withColumn(c, F.when(hit, F.raise_error(F.lit("injected crash"))).otherwise(F.col(c)))

    stages[k].transform = crashing
    r = PipelineRunner(spark, out)
    with pytest.raises(Exception, match="injected crash"):
        r.run(stages)
    assert not os.path.exists(r._marker_path(stages[k]))

    status = PipelineRunner(spark, out).run(image_pipeline_stages(n_images=60, tile_level=8))
    assert [status[n] for n in names] == ["skipped"] * k + ["completed"] * (len(names) - k)
    assert _sorted_rows(spark, out, "tiles") == uncrashed_tiles
