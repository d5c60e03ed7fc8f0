"""The metrics a run prints are exactly those BENCHMARK.json declares:
python3 -m pytest perfbench"""

import json
import os

from perfbench import run
from perfbench.trace import COUNTERS, Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _declared(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def _collect():
    got = {}
    return got, lambda name, value, unit: got.__setitem__(name, unit)


def _record(op, layer, **extra):
    counters = dict.fromkeys(COUNTERS, 1)
    return {"pass": 1, "op": op, "layer": layer, "build_s": 0.5, "exec_s": 1.5,
            "input_rows": 10, "cpu_s": 2.5, "jit_cpu_s": 1.0, "gc_cpu_s": 0.1,
            "ok": True, "build": dict(counters),
            "exec": dict(counters), "cached_rdds": 0, **extra}


def test_untraced_run_prints_every_end_to_end_metric():
    got, put = _collect()
    run.end_to_end_metrics(put, 8.0, [_record("q", "operators")])
    assert got == _declared("end_to_end")


def test_traced_run_prints_every_per_layer_metric():
    spans = Tracer(True)
    with spans.span("session", "get_spark"):
        pass
    with spans.span("sources", "scan:events"):
        pass
    recs = [
        _record("pricing_summary", "operators", optimize_s=0.1),
        _record("tumbling_counts", "streaming", progress=[
            {"durationMs": {"triggerExecution": 900, "addBatch": 700},
             "stateOperators": [{"numRowsTotal": 5, "memoryUsedBytes": 10,
                                 "commitTimeMs": 3}]}]),
        _record("ml_train", "ml"),
        _record("ml_evaluate", "ml"),
    ]
    got, put = _collect()
    run.layer_metrics(put, recs, spans, cores=4, wall_s=9.0, disk_mb=0.5, peak_mb=900.0)
    assert got == _declared("per_layer")


def test_self_time_subtracts_direct_children():
    spans = Tracer(True)
    with spans.span("bench", "op"):
        with spans.span("plans", "build"):
            with spans.span("sources", "load_table"):
                pass
    # Fix the clock readings: op 0..10, build 1..6, load_table 2..5.
    for s, (start, end) in zip(spans.spans, [(0.0, 10.0), (1.0, 6.0), (2.0, 5.0)]):
        s.start, s.end = start, end
    assert spans.self_seconds() == {"bench": 5.0, "plans": 2.0, "sources": 3.0}
    assert spans.seconds("plans") == 5.0
    assert [s.op for s in spans.spans] == [None, None, None]
    assert [s.parent for s in spans.spans] == [None, 0, 1]


def test_disabled_tracer_records_nothing():
    spans = Tracer(False)
    with spans.span("plans", "build"):
        pass
    assert spans.spans == [] and spans.self_seconds() == {}
