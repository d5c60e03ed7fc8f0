"""Scaling study: headline queries timed across all three testdata scale
factors (sf0.001 / sf0.01 / sf0.1, a 100× data range) in one session.

The point is empirical evidence for the 100-TB design claims: a query
whose plan scales should show wall-time growing ~linearly (or better)
with data volume once fixed overhead (job scheduling, codegen, Arrow
init) is amortized — a super-linear step between sf0.01 and sf0.1 is a
red flag (accidental quadratic, a broadcast that stopped fitting, a
spill). Output: one JSON line per query with the three timings and the
sf0.1/sf0.01 growth ratio (data grows 10×; ratios well under 10 mean
fixed overhead still dominates; ratios near 10 are linear; above ~12
flagged SUPRALINEAR for inspection).

Usage: python tools/scaling.py [--out PATH]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIRS = [
    ("/root/testdata/sf0.001", 0.001),
    ("/root/testdata/sf0.01", 0.01),
    ("/root/testdata/sf0.1", 0.1),
]
SUPRALINEAR_RATIO = 12.0  # 10× data; leave headroom for noise


def main() -> None:
    from bench import select

    from big_data_imdb_classifier_spark import plans
    from big_data_imdb_classifier_spark.session import get_spark

    plans.load_all()
    names = select([])
    spark = get_spark(app_name="scaling-study")

    def run(name: str, sf_dir: str) -> float:
        # Construction + execution (same protocol as bench.py round-5):
        # build-time driver-coordinated work belongs inside the ratio.
        t0 = time.perf_counter()
        df = plans.QUERIES[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # Warm-up (JIT/codegen/Arrow) so sf0.001 timings aren't startup noise.
    for n in names:
        try:
            run(n, SF_DIRS[0][0])
        except Exception:
            pass

    rows = []
    for n in names:
        timing = {}
        try:
            for d, sf in SF_DIRS:
                timing[sf] = round(run(n, d), 3)
        except Exception as ex:  # noqa: BLE001
            print(f"scaling: {n} failed: {ex}", file=sys.stderr)
            continue
        ratio = round(timing[0.1] / max(timing[0.01], 1e-9), 2)
        rows.append(
            {
                "query": n,
                "sec": timing,
                "growth_10x": ratio,
                "supralinear": ratio > SUPRALINEAR_RATIO,
            }
        )

    out = {"cpus": os.environ.get("SPARK_GRAFT_CPUS", "*"), "rows": rows}
    out_path = None
    if "--out" in sys.argv:
        out_path = sys.argv[sys.argv.index("--out") + 1]
        with open(out_path, "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
    for r in rows:
        flag = "  <-- SUPRALINEAR" if r["supralinear"] else ""
        print(
            f"{r['sec'][0.001]:7.2f} {r['sec'][0.01]:7.2f} {r['sec'][0.1]:7.2f} "
            f"x{r['growth_10x']:<5} {r['query']}{flag}"
        )
    n_bad = sum(r["supralinear"] for r in rows)
    print(json.dumps({"total": len(rows), "supralinear": n_bad}))
    spark.stop()


if __name__ == "__main__":
    main()
