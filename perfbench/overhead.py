"""Tracing overhead per workload, from the detail records of earlier runs.

    python3 perfbench/overhead.py [DETAIL_DIR]

Compares traced runs with untraced runs of the same workload (default
directory: ``.perfbench``): the median, over runs, of the first timed
pass's wall and of the typical pass's CPU time (``cpu_s``).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
from collections import defaultdict


def main(argv: list[str]) -> int:
    root = argv[0] if argv else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".perfbench"
    )
    runs: dict[tuple[str, int], list[dict]] = defaultdict(list)
    for path in glob.glob(os.path.join(root, "*.json")):
        with open(path) as fh:
            d = json.load(fh)
        if d.get("pass_walls_s") and not d.get("aborted"):
            runs[(d["workload"], d["trace"])].append(d)
    for wl in sorted({w for w, _ in runs}):
        off, on = runs.get((wl, 0)), runs.get((wl, 1))
        if not off or not on:
            print(f"{wl}: needs traced and untraced runs")
            continue
        for what, get in (("first-pass wall", lambda d: d["pass_walls_s"][0]),
                          ("cpu_s", lambda d: d["cpu_s"])):
            a = statistics.median(get(d) for d in off)
            b = statistics.median(get(d) for d in on)
            print(f"{wl} {what}: untraced {a:.3f} s (n={len(off)}), traced {b:.3f} s "
                  f"(n={len(on)}), overhead {b - a:+.3f} s ({(b - a) / a:+.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
