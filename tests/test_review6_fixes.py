"""Regression tests for the sixth review pass (parity-core modules):
exact counts above the evidence cap, Java-regex per-rule degradation,
fused-aggregate alias collisions, singular scheme-string config, markdown
counts for fk/required shapes, partition_report hardening, and preflight
over parquet-dir inputs."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from fairy_core_spark.plans.report import (
    partition_report,
    run_rulepack,
    write_report_markdown,
)


def _csv(tmp_path, name, header, rows):
    p = tmp_path / name
    with open(p, "w") as f:
        f.write(header + "\n")
        for r in rows:
            f.write(r + "\n")
    return str(p)


def test_counts_are_exact_above_evidence_cap(spark, tmp_path):
    """Reference parity (rulepack_runner.py never caps, so its count is
    always exact): with 300 violations and a 50-row evidence cap, count
    must say 300, not 50 — for url, non_empty_trimmed, regex, dup AND
    required shapes."""
    rows = [f"{i},notaurl,, x,{i % 2}" for i in range(300)]
    path = _csv(tmp_path, "t.csv", "id,u,v,w,k", rows)
    rp = {
        "meta": {"name": "cap", "version": "0.0.1"},
        "rules": [
            {"id": "r-url", "type": "url", "severity": "fail",
             "config": {"pattern": "*", "column": "u"}},
            {"id": "r-net", "type": "non_empty_trimmed", "severity": "fail",
             "config": {"pattern": "*", "column": "v"}},
            {"id": "r-rx", "type": "regex", "severity": "fail",
             "config": {"pattern": "*", "column": "w", "regex": r"\d+"}},
            {"id": "r-dup", "type": "dup", "severity": "fail",
             "config": {"pattern": "*", "keys": ["k"]}},
            {"id": "r-req", "type": "required", "severity": "fail",
             "config": {"pattern": "*", "columns": ["v"]}},
        ],
    }
    rep = run_rulepack(spark, {"t": path}, rp, max_evidence_rows=50)
    by_id = {r["id"]: r for r in rep["resources"][0]["rules"]}
    assert by_id["r-url"]["evidence"]["count"] == 300
    assert len(by_id["r-url"]["evidence"]["invalid_url_rows"]) == 50
    assert by_id["r-net"]["evidence"]["count"] == 300
    assert by_id["r-rx"]["evidence"]["count"] == 300
    assert by_id["r-dup"]["evidence"]["count"] == 298  # 300 rows, 2 keys
    assert by_id["r-req"]["evidence"]["count"] == 300
    assert (
        len(by_id["r-req"]["evidence"]["nullish"]["rows_by_column"]["v"]) == 50
    )


def test_java_invalid_regex_degrades_to_one_rule(spark, tmp_path):
    """A pattern valid in Python but invalid in java.util.regex (the
    dialect rlike executes) must produce ITS OWN runtime_error row without
    aborting the fused aggregate for every other rule."""
    path = _csv(tmp_path, "t.csv", "id,v", [f"{i},ok" for i in range(5)])
    rp = {
        "meta": {"name": "jrx", "version": "0.0.1"},
        "rules": [
            # (?P<x>...) compiles in Python, PatternSyntaxException in Java
            {"id": "r-bad", "type": "regex", "severity": "fail",
             "config": {"pattern": "*", "column": "v", "regex": r"(?P<x>ok)"}},
            {"id": "r-good", "type": "required", "severity": "fail",
             "config": {"pattern": "*", "columns": ["v"]}},
        ],
    }
    rep = run_rulepack(spark, {"t": path}, rp)
    by_id = {r["id"]: r for r in rep["resources"][0]["rules"]}
    assert by_id["r-bad"]["status"] == "FAIL"
    assert by_id["r-bad"]["evidence"]["error"] == "runtime_error"
    assert by_id["r-good"]["status"] == "PASS"  # the rest of the pack ran


def test_java_regex_check_runs_on_any_thread(spark):
    """The Java pre-check must not depend on the thread: on a thread where
    ``SparkSession.getActiveSession()`` is None it used to be skipped, and
    the bad pattern then aborted the whole fused aggregate."""
    import threading

    from fairy_core_spark.operators.rules import compile_rule
    from fairy_core_spark.rulepack.loader import Rule

    rule = Rule("r-bad", "regex", "fail", {"column": "v", "regex": r"(?P<x>ok)"})
    out = {}
    t = threading.Thread(target=lambda: out.update(cr=compile_rule(rule, ["v"], ["t"])))
    t.start()
    t.join(timeout=60)
    assert not t.is_alive()
    status, evidence = out["cr"].error
    assert status == "FAIL"
    assert evidence["error"] == "runtime_error"


def test_sanitized_rule_id_collision_keeps_counts_separate(spark, tmp_path):
    """'a.b' and 'a-b' both sanitize to a_b; without per-rule ordinals in
    the fused-aggregate aliases, one rule silently reads the other's
    counts."""
    path = _csv(tmp_path, "t.csv", "id,x,y",
                [f"{i},,{i}" for i in range(10)])  # x always blank, y never
    rp = {
        "meta": {"name": "coll", "version": "0.0.1"},
        "rules": [
            {"id": "a.b", "type": "non_empty_trimmed", "severity": "fail",
             "config": {"pattern": "*", "column": "x"}},  # 10 violations
            {"id": "a-b", "type": "non_empty_trimmed", "severity": "fail",
             "config": {"pattern": "*", "column": "y"}},  # 0 violations
        ],
    }
    rep = run_rulepack(spark, {"t": path}, rp)
    by_id = {r["id"]: r for r in rep["resources"][0]["rules"]}
    assert by_id["a.b"]["status"] == "FAIL"
    assert by_id["a.b"]["evidence"]["count"] == 10
    assert by_id["a-b"]["status"] == "PASS"


def test_url_scheme_singular_string_config(spark, tmp_path):
    """`scheme: https` as a bare string is one scheme, not the character
    set {'h','t','p','s'} (the reference iterates it char-wise,
    rulepack_runner.py:676 — its fixtures only pass lists)."""
    path = _csv(
        tmp_path, "t.csv", "id,u",
        ["1,https://example.com/a", "2,http://example.com/b"],
    )
    rp = {
        "meta": {"name": "scheme", "version": "0.0.1"},
        "rules": [
            {"id": "r-url", "type": "url", "severity": "fail",
             "config": {"pattern": "*", "column": "u", "scheme": "https"}},
        ],
    }
    rep = run_rulepack(spark, {"t": path}, rp)
    rule = rep["resources"][0]["rules"][0]
    assert rule["evidence"]["schemes"] == ["https"]
    assert rule["evidence"]["count"] == 1  # only the http row violates


def test_markdown_count_for_fk_and_required_shapes(tmp_path):
    """A failing foreign_key rule carries missing_count_estimate (no
    'count' key); range carries out_of_bounds.count — the MD table must
    render those, not 0."""
    report = {
        "summary": {"pass": 0, "warn": 0, "fail": 3},
        "attestation": {
            "rulepack_name": "rp", "rulepack_version": "1",
            "timestamp": "2026-01-01T00:00:00Z", "dataset_id": "sha256:x",
        },
        "resources": [{
            "name": "t",
            "rules": [
                {"id": "fk", "type": "foreign_key", "severity": "fail",
                 "status": "FAIL",
                 "evidence": {"missing_values": ["a"],
                              "missing_count_estimate": 7}},
                {"id": "rng", "type": "range", "severity": "fail",
                 "status": "FAIL",
                 "evidence": {"out_of_bounds": {"count": 4, "rows": [1]}}},
                {"id": "en", "type": "enum", "severity": "fail",
                 "status": "FAIL",
                 "evidence": {"out_of_set": {"count": 9, "rows": [2]}}},
            ],
        }],
    }
    md_path = str(tmp_path / "r.md")
    write_report_markdown(report, md_path)
    md = open(md_path).read()
    assert "| fk | foreign_key | fail | FAIL | 7 |" in md
    assert "| rng | range | fail | FAIL | 4 |" in md
    assert "| en | enum | fail | FAIL | 9 |" in md


def test_partition_report_counts_and_hostile_rule_ids(spark):
    """partition_report: per-partition violation counts in long form;
    rule ids containing quotes/backticks must not break plan construction
    (ids ride as literals, not generated SQL)."""
    df = spark.createDataFrame(
        [(p, v) for p in ("a", "b") for v in range(10)], "pk string, v int"
    )
    preds = {
        "v_big": F.col("v") > 7,          # 2 violations per partition
        "it's `odd`": F.col("v") % 2 == 1,  # 5 per partition, hostile id
    }
    out = partition_report(df, preds, F.col("pk"), input_name="t")
    got = {
        (r["partition_key"], r["rule_id"]): (r["violations"], r["rows"])
        for r in out.collect()
    }
    assert got[("a", "v_big")] == (2, 10)
    assert got[("b", "it's `odd`")] == (5, 10)
    assert len(got) == 4
    with pytest.raises(ValueError, match="rule_preds"):
        partition_report(df, {}, F.col("pk"))


def test_preflight_accepts_parquet_dir_inputs(spark, tmp_path):
    """run_preflight over parquet TABLE DIRS: input hashing must use the
    table fingerprint (sha256_file raises IsADirectoryError)."""
    from fairy_core_spark.plans.preflight_report import run_preflight

    samples_dir = str(tmp_path / "samples.parquet")
    files_dir = str(tmp_path / "files.parquet")
    spark.createDataFrame(
        [("s1", "t"), ("s2", "")], "sample_id string, tissue string"
    ).write.parquet(samples_dir)
    spark.createDataFrame(
        [("s1", "f1.fastq")], "sample_id string, filename string"
    ).write.parquet(files_dir)
    rulepack = {
        "meta": {"name": "pq", "id": "pq", "version": "0.0.1"},
        "rules": [
            {"code": "C1", "check": {"type": "require_columns",
                                     "required_columns": ["sample_id"]}},
        ],
    }
    report = run_preflight(spark, rulepack, "", samples_dir, files_dir, {})
    meta = report["metadata"]["inputs"]
    assert meta["samples"]["sha256"].startswith("")  # present, no crash
    assert meta["samples"]["n_rows"] == 2
    assert report["summary"]["submission_ready"] in (True, False)
