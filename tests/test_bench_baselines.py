"""bench.py's comparison with the frozen floors in
BENCH/QUERY_BASELINES.json (no Spark): a missing or unparsable file fails
loudly, and the north_pipeline seconds are compared like a query's."""

from __future__ import annotations

import json

import pytest

import bench


def test_committed_baselines_load():
    got = bench._load_query_baselines()
    assert got["pipeline_sec"] == 6.439
    assert set(got["queries"]) == set(bench.HEADLINE)


@pytest.mark.parametrize("text", [None, "{not json", "{}", '{"queries": {"a": 1.0}}'])
def test_missing_or_unparsable_baselines_raise(tmp_path, text):
    path = tmp_path / "QUERY_BASELINES.json"
    if text is not None:
        path.write_text(text)
    with pytest.raises((OSError, ValueError)):
        bench._load_query_baselines(str(path))


def test_ratios_flag_queries_and_pipeline_above_twice_their_floor(tmp_path):
    path = tmp_path / "QUERY_BASELINES.json"
    path.write_text(json.dumps({"pipeline_sec": 6.0, "queries": {"a": 1.0, "b": 2.0}}))
    floors = bench._load_query_baselines(str(path))

    fast = bench._baseline_ratios({"a": 1.5, "b": 4.0, "new": 9.0}, 12.0, floors)
    assert fast == {
        "query_baseline_ratio": {"a": 1.5, "b": 2.0},
        "pipeline_baseline_ratio": 2.0,
        "regressions": [],
    }
    slow = bench._baseline_ratios({"a": 2.5, "b": 1.0}, 12.6, floors)
    assert slow["pipeline_baseline_ratio"] == 2.1
    assert slow["regressions"] == ["a", "north_pipeline"]
