"""bench_compare.py: which artifacts it loads and when it fails."""

from __future__ import annotations

import json
import os

import pytest

from bench_compare import load, main

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _line(path, queries: dict[str, float]) -> str:
    doc = {"metric": "headline_queries_total_wall", "value": sum(queries.values()),
           "unit": "sec", "queries": queries}
    path.write_text(json.dumps(doc))
    return str(path)


def test_load_unwraps_a_recorded_envelope():
    path = os.path.join(REPO, "BENCH_r12_c8.json")
    with open(path) as fh:
        envelope = json.load(fh)
    doc = load(path)
    assert doc == envelope["parsed"]
    assert len(doc["queries"]) == 50


def test_load_takes_a_bare_line_as_is(tmp_path):
    path = _line(tmp_path / "b.json", {"q": 1.0})
    with open(path) as fh:
        assert load(path) == json.load(fh)


@pytest.mark.parametrize(
    # r03's line outgrew the tail capture (parsed: null); r12's carried
    # a placeholder string in place of its per-query map
    "artifact", ["BENCH_r03.json", "BENCH_r12.json"]
)
def test_load_rejects_artifacts_without_per_query_times(artifact):
    with pytest.raises(SystemExit, match="not a bench.py output"):
        load(os.path.join(REPO, artifact))


def test_main_fails_only_beyond_ratio_and_slack(tmp_path):
    base = _line(tmp_path / "base.json", {"a": 2.0, "b": 0.2, "c": 5.0})
    slow = _line(tmp_path / "slow.json", {"a": 3.1, "b": 0.2, "c": 5.0})
    noisy = _line(tmp_path / "noisy.json", {"a": 2.4, "b": 0.6, "c": 5.0})
    assert main([base, slow]) == 1
    assert main([base, noisy]) == 0
