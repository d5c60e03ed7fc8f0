"""The bench harness: query selection, the per-query profile, and
``tools/bench_compare.py`` on synthetic detail records."""

from __future__ import annotations

import importlib.util
import os

import pytest

import bench
from big_data_imdb_classifier_spark import plans
from perfbench.trace import COUNTERS, StatusStore

from .conftest import SF_SMOKE

_spec = importlib.util.spec_from_file_location(
    "bench_compare",
    os.path.join(os.path.dirname(bench.__file__), "tools", "bench_compare.py"),
)
bench_compare = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench_compare)


def test_headline_names_are_registered():
    plans.load_all()
    assert set(bench.HEADLINE) <= set(plans.QUERIES)
    assert bench.select([]) == bench.HEADLINE
    assert bench.select(["pricing_summary", "pricing_summary"]) == ["pricing_summary"]
    with pytest.raises(SystemExit, match="unknown queries"):
        bench.select(["pricing_summary", "no_such_query"])


def _record(jobs: int | None, sec: float = 2.0) -> dict:
    rec = {"queries": {"q": sec, "r": 1.0}}
    if jobs is not None:
        phase = dict.fromkeys(COUNTERS, 0)
        rec["counters"] = {
            "q": {"build": dict(phase), "exec": {**phase, "jobs": jobs}},
            "r": {"build": dict(phase), "exec": dict(phase)},
        }
    return rec


def test_compare_counter_mover_is_not_a_wall_mover():
    out = bench_compare.compare(_record(3), _record(5))
    assert out["summary"]["counters"] is True
    assert out["wall_movers"] == []
    assert out["counter_movers"] == [
        {"query": "q", "phase": "exec", "counter": "jobs", "old": 3, "new": 5}
    ]


def test_compare_records_without_counters_is_wall_only():
    out = bench_compare.compare(_record(None), _record(None, sec=4.0))
    assert out["summary"]["counters"] is False
    assert out["counter_movers"] == []
    assert [m["query"] for m in out["wall_movers"]] == ["q"]
    # A counted record against an old wall-only one still compares.
    mixed = bench_compare.compare(_record(None), _record(5))
    assert mixed["summary"]["n_wall_movers"] == 0
    assert mixed["summary"]["n_counter_movers"] == 0


def test_profile_counts_both_phases_and_restores_job_group(spark):
    plans.load_all()
    sc = spark.sparkContext
    sc.setJobGroup("outer-group", "caller's group")
    try:
        prof = bench.profile(spark, StatusStore(spark), "pricing_summary", SF_SMOKE)
        assert sc.getLocalProperty("spark.jobGroup.id") == "outer-group"
        assert sc.getLocalProperty("spark.job.description") == "caller's group"
    finally:
        for k in bench.JOB_GROUP_PROPS:
            sc.setLocalProperty(k, None)
    for phase in ("build", "exec"):
        assert set(prof[phase]) == set(COUNTERS)
        assert prof[f"{phase}_s"] >= 0
    assert prof["exec"]["jobs"] >= 1
    assert prof["exec"]["tasks"] >= 1
