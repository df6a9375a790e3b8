"""The preflight report runs only the Spark jobs it needs, and running its
inputs concurrently does not change it.

Three parquet inputs, a failing rule on each, a cross-input foreign key, and
evidence overflow on two inputs. The report must equal the one the
sequential one-input-at-a-time runner produced (pinned below), each
overflow must land in its own ``input=<name>/rule=<id>`` sink directory, and
the job count must stay within budget: per input one schema-inference job
on first read, the row-id counts pass and the fused aggregate (whose
``count(1)`` is the attestation's row count), then evidence jobs only for
failing rules.
"""

from __future__ import annotations

import json
import os

import pandas as pd

from fairy_core_spark.plans.provenance import sha256_file
from fairy_core_spark.plans.report import run_rulepack
from tests.helpers import spark_jobs

NOW = "2026-01-01T00:00:00Z"
CAP = 5
# Spark jobs of the first report on this fixture. The sequential runner ran
# 47; a raw cache per input brings back 3, an attestation count() 6.
BUDGET = 38

RP = {
    "meta": {"name": "jobs", "version": "0.0.1"},
    "rules": [
        {"id": "ord_status_enum", "type": "enum", "severity": "fail",
         "config": {"pattern": "orders", "column": "o_status", "allow": ["F", "O"]}},
        {"id": "items_fk_orders", "type": "foreign_key", "severity": "fail",
         "config": {"pattern": "items",
                    "from": {"table": "items", "field": "i_order"},
                    "to": {"table": "orders", "field": "o_id"}}},
        {"id": "items_note_required", "type": "required", "severity": "fail",
         "config": {"pattern": "items", "columns": ["i_note"]}},
        {"id": "cust_name_non_empty", "type": "non_empty_trimmed", "severity": "warn",
         "config": {"pattern": "customers", "column": "c_name"}},
    ],
}


def _inputs(tmp_path) -> dict[str, str]:
    frames = {
        # 3 of 40 statuses outside the allow-list: fails, under the cap
        "orders": pd.DataFrame({
            "o_id": list(range(1, 41)),
            "o_status": ["X" if i % 13 == 0 else "FO"[i % 2] for i in range(1, 41)],
        }),
        # orders 41 and 42 do not exist; every 4th note is blank (50 > cap)
        "items": pd.DataFrame({
            "i_id": list(range(1, 201)),
            "i_order": [1 + i % 42 for i in range(200)],
            "i_note": ["" if i % 4 == 0 else f"n{i}" for i in range(200)],
        }),
        # every 3rd name is whitespace only (10 > cap)
        "customers": pd.DataFrame({
            "c_id": list(range(1, 31)),
            "c_name": ["  " if i % 3 == 0 else f"c{i}" for i in range(30)],
        }),
    }
    paths = {}
    for name, pdf in frames.items():
        paths[name] = str(tmp_path / f"{name}.parquet")
        pdf.to_parquet(paths[name], index=False)
    return paths


def _normalized(report: dict, tmp_path, inputs: dict[str, str]) -> dict:
    """Report with the run's temp dir and the parquet files' hashes (which
    carry the writer's library versions) replaced by placeholders."""
    att = report["attestation"]
    for a in att["inputs"]:
        assert a["sha256"] == sha256_file(inputs[a["name"]])
        assert a["bytes"] == os.path.getsize(inputs[a["name"]])
        a["sha256"], a["bytes"] = f"<sha256 {a['name']}>", f"<bytes {a['name']}>"
    assert att.pop("dataset_id").startswith("sha256:")
    return json.loads(json.dumps(report).replace(str(tmp_path), "<tmp>"))


def test_report_matches_sequential_runner_and_job_budget(spark, tmp_path):
    inputs = _inputs(tmp_path)
    sink = str(tmp_path / "evidence")
    report, n_jobs = spark_jobs(spark, lambda: run_rulepack(
        spark, inputs, RP, now_iso=NOW, max_evidence_rows=CAP, evidence_out=sink
    ))
    assert _normalized(report, tmp_path, inputs) == EXPECTED

    for name, rule, rows in (("items", "items_note_required", 50),
                             ("customers", "cust_name_non_empty", 10)):
        assert spark.read.parquet(f"{sink}/input={name}/rule={rule}").count() == rows
    assert sorted(os.listdir(sink)) == ["input=customers", "input=items"]

    assert n_jobs <= BUDGET, n_jobs
    # the same files again: their schemas are known, no inference job
    _, n_again = spark_jobs(spark, lambda: run_rulepack(
        spark, inputs, RP, now_iso=NOW, max_evidence_rows=CAP, evidence_out=sink
    ))
    assert n_again <= BUDGET - 3, n_again

# The report of the sequential runner (one input after another, a raw cache
# and an attestation count() per input) on this fixture.
EXPECTED = {
    "engine": {"fairy_core_version": "0.1.0"},
    "attestation": {
        "core_version": "0.1.0",
        "rulepack": {"id": "jobs", "version": "0.0.1", "path": ""},
        "inputs": [
            {"name": n, "path": f"<tmp>/{n}.parquet", "sha256": f"<sha256 {n}>",
             "bytes": f"<bytes {n}>", "rows": rows}
            for n, rows in (("orders", 40), ("items", 200), ("customers", 30))
        ],
        "timestamp": NOW,
        "fairy_core_version": "0.1.0",
        "rulepack_name": "jobs",
        "rulepack_version": "0.0.1",
        "rulepack_source_path": "",
    },
    "metadata": {"inputs": {n: f"<tmp>/{n}.parquet" for n in ("orders", "items", "customers")}},
    "summary": {"pass": 0, "warn": 1, "fail": 3},
    "resources": [
        {"name": "orders", "path": "<tmp>/orders.parquet", "rules": [
            {"id": "ord_status_enum", "type": "enum", "severity": "fail", "status": "FAIL",
             "evidence": {"out_of_set": {"count": 3, "rows": [13, 26, 39]}}},
        ]},
        {"name": "items", "path": "<tmp>/items.parquet", "rules": [
            {"id": "items_fk_orders", "type": "foreign_key", "severity": "fail", "status": "FAIL",
             "evidence": {"missing_values": ["41", "42"], "missing_count_estimate": 2,
                          "from": {"table": "items", "field": "i_order"},
                          "to": {"table": "orders", "field": "o_id"}}},
            {"id": "items_note_required", "type": "required", "severity": "fail", "status": "FAIL",
             "evidence": {"nullish": {"columns": ["i_note"],
                                      "rows_by_column": {"i_note": [1, 5, 9, 13, 17]}},
                          "count": 50}},
        ], "evidence_truncated": {"rules": ["items_note_required"], "evidence_out": "<tmp>/evidence"}},
        {"name": "customers", "path": "<tmp>/customers.parquet", "rules": [
            {"id": "cust_name_non_empty", "type": "non_empty_trimmed", "severity": "warn",
             "status": "WARN", "evidence": {"empty_or_whitespace_rows": [1, 4, 7, 10, 13], "count": 10}},
        ], "evidence_truncated": {"rules": ["cust_name_non_empty"], "evidence_out": "<tmp>/evidence"}},
    ],
}
