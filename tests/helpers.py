"""Test helpers: report normalization for golden comparison, and a Spark
job counter.

Same normalization the golden generator applies (strip engine identity,
volatile attestation keys, absolute paths) — the role of the reference's
``tests/helpers.py:6-14``.
"""

from __future__ import annotations

import json
import os

VOLATILE_ATTESTATION_KEYS = {"core_version", "fairy_core_version", "timestamp", "dataset_id"}


def normalize_report(report: dict) -> dict:
    out = json.loads(json.dumps(report))
    out.pop("engine", None)
    att = out.get("attestation", {})
    for k in VOLATILE_ATTESTATION_KEYS:
        att.pop(k, None)
    att["rulepack"] = {k: v for k, v in att.get("rulepack", {}).items() if k != "path"}
    att.pop("rulepack_source_path", None)
    for inp in att.get("inputs", []):
        inp["path"] = os.path.basename(inp["path"])
    for res in out.get("resources", []):
        res["path"] = os.path.basename(res["path"])
    md = out.get("metadata", {})
    if "inputs" in md:
        md["inputs"] = {k: os.path.basename(v) for k, v in md["inputs"].items()}
    return out


def spark_jobs(spark, fn):
    """``fn()`` and the number of Spark jobs started while it ran, read from
    the DAG scheduler's job-id counter (threads included, unlike a job
    group)."""
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    first = scheduler.nextJobId()
    out = fn()
    return out, scheduler.nextJobId() - first
