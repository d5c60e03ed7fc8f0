"""Streaming throughput bench: drain the Structured Streaming twins over
the sf0.1 events backlog (availableNow trigger) and report rows/sec.

The batch bench (bench.py) covers the batch plans; this measures the
SAME event-time semantics through the streaming engine — watermarked
tumbling windows, native session windows, stateful dedup, the
applyInPandasWithState custom operator, and the watermarked
stream-stream range join — so "streaming twin" claims carry a
throughput number, not just the batch-parity tests.

Throughput = input rows / wall seconds for a full availableNow drain
(state checkpointing and watermark bookkeeping included). availableNow
processes the whole backlog as micro-batches exactly like a catch-up
run against a live source.

Regression ledger: pass ``--baseline PATH`` (a previous run's --out
JSON) and every case also reports ``delta_pct`` — the rows/s change vs
that baseline — so state-store/watermark regressions get caught
round-over-round exactly like batch plan regressions in bench.py.
Like bench.py, each case is drained ``REPS`` times and the median wall
time is reported, together with each rep's state-store shape (micro
batches, state rows and memory), which does not move with host load.

Usage: python tools/stream_bench.py [--out PATH] [--baseline PATH]
                                    [--only case1,case2]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = 3


def main() -> None:
    from big_data_imdb_classifier_spark.session import get_spark
    from big_data_imdb_classifier_spark.sources.readers import load_table
    from big_data_imdb_classifier_spark.streaming import streams as S

    spark = get_spark(app_name="stream-bench")
    n_rows = load_table(spark, SF_DIR, "events").count()

    cases = {
        "tumbling_counts": lambda ev: (S.tumbling_counts_stream(ev), "complete"),
        "session_windows": lambda ev: (S.session_window_stream(ev), "complete"),
        "dedup_within_watermark": lambda ev: (S.dedup_stream(ev), "append"),
        "running_user_totals_state": lambda ev: (
            S.running_user_totals_stream(ev),
            "update",
        ),
        "stream_stream_range_join": lambda ev: (
            S.clicks_before_purchase_join_stream(ev),
            "append",
        ),
        "pattern_funnel_state": lambda ev: (
            S.pattern_funnel_stream(ev),
            "update",
        ),
    }

    if "--only" in sys.argv:
        # Comma-separated case names.
        i = sys.argv.index("--only") + 1
        if i >= len(sys.argv):
            raise SystemExit("--only requires a value")
        keep = set(sys.argv[i].split(","))
        unknown = keep - set(cases)
        if unknown:
            raise SystemExit(f"--only: unknown cases {sorted(unknown)}")
        cases = {k: v for k, v in cases.items() if k in keep}

    baseline_cases = {}
    if "--baseline" in sys.argv:
        i = sys.argv.index("--baseline") + 1
        if i >= len(sys.argv):
            raise SystemExit("--baseline requires a value")
        with open(sys.argv[i]) as fh:
            baseline_cases = json.load(fh).get("cases", {})

    def _state_summary(progress: list) -> dict:
        """Collapse per-micro-batch progress into the numbers that
        distinguish state growth from host noise: micro-batch count,
        final state rows, peak state memory, total state updates."""
        batches = len(progress)
        rows_total = mem_peak = updated = 0
        for p in progress:
            for so in p.get("stateOperators") or []:
                rows_total = max(rows_total, so.get("numRowsTotal", 0) or 0)
                mem_peak = max(mem_peak, so.get("memoryUsedBytes", 0) or 0)
                updated += so.get("numRowsUpdated", 0) or 0
        return {
            "micro_batches": batches,
            "state_rows_final": rows_total,
            "state_mem_peak_bytes": mem_peak,
            "state_rows_updated": updated,
        }

    results = {}
    for name, build in cases.items():
        walls, out_rows, state_reps = [], 0, []
        try:
            for rep in range(REPS):
                ev = S.load_events_stream(spark, SF_DIR)
                df, mode = build(ev)
                t0 = time.perf_counter()
                out, progress = S.run_to_memory(
                    spark, df, f"sb_{name}_{rep}",
                    output_mode=mode, timeout_sec=600,
                    with_progress=True,
                )
                out_rows = out.count()
                walls.append(time.perf_counter() - t0)
                state_reps.append(_state_summary(progress))
        except Exception as ex:  # noqa: BLE001
            print(f"stream_bench: {name} failed: {ex}", file=sys.stderr)
            continue
        wall = sorted(walls)[len(walls) // 2]
        # Attribution: identical state shape across reps + varying wall
        # time = host-side variance; growing state rows/memory = real
        # state accumulation (each rep starts a fresh temp checkpoint,
        # so any growth would indicate a leak in the query itself).
        shapes = {
            (s["micro_batches"], s["state_rows_final"]) for s in state_reps
        }
        spread = (max(walls) / max(min(walls), 1e-9)) if walls else 1.0
        if len(shapes) <= 1:
            cause = (
                "state shape identical across reps"
                + (
                    f"; wall spread x{spread:.2f} is host-side"
                    if spread > 1.2
                    else "; wall stable"
                )
            )
        else:
            cause = "STATE SHAPE VARIES ACROSS REPS — investigate"
        results[name] = {
            "sec": round(wall, 3),
            "out_rows": out_rows,
            "rows_per_sec": round(n_rows / wall),
            "wall_spread": round(spread, 2),
            "state": state_reps,
            "state_note": cause,
        }
        base = baseline_cases.get(name, {}).get("rows_per_sec")
        if base:
            results[name]["baseline_rows_per_sec"] = base
            results[name]["delta_pct"] = round(
                100.0 * (results[name]["rows_per_sec"] - base) / base, 1
            )
        delta = results[name].get("delta_pct")
        print(
            f"{results[name]['sec']:7.2f}s  "
            f"{results[name]['rows_per_sec']:>9,} rows/s  "
            + (f"{delta:+6.1f}% vs baseline  " if delta is not None else "")
            + f"{out_rows:>8} out  {name}"
        )

    summary = {
        "metric": "stream_drain",
        "input_rows": n_rows,
        "sf_dir": SF_DIR,
        "reps": REPS,
        "stat": "median",
        "cases": results,
    }
    if "--out" in sys.argv:
        i = sys.argv.index("--out") + 1
        if i >= len(sys.argv):
            raise SystemExit("--out requires a value")
        with open(sys.argv[i], "w") as fh:
            json.dump(summary, fh, indent=1, sort_keys=True)
    print(json.dumps({k: v["rows_per_sec"] for k, v in results.items()}))
    spark.stop()


if __name__ == "__main__":
    main()
