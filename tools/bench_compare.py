"""Round-over-round comparison of two ``bench.py`` detail records.

Wall movers: queries whose construction+execution total (``queries``)
moved by more than ``--flag`` (default 1.3x) either way. Wall time on a
shared host swings with its neighbours' load, so these are leads, not
verdicts.

Counter movers: per query and phase (``build``/``exec``), the
status-store counters of the last timed rep (``counters``, written since
the P5 protocol epoch). ``jobs`` and ``stages`` move on any change; the
amounts (shuffle bytes, executor CPU ms, spill bytes) move by more than
the flag. Records without counters (r10 and older) compare on wall time
only.

Usage: python tools/bench_compare.py OLD.json NEW.json [--flag 1.3]
Prints a JSON summary and both mover tables; the exit code stays 0 (the
attribution requirement is editorial, in BENCHLOG.md, not a gate).
"""

from __future__ import annotations

import json
import sys

EXACT = ("jobs", "stages")
AMOUNTS = (
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "executor_cpu_ms",
    "spill_bytes",
)


def _moved(old: float, new: float, flag: float, floor: float = 1) -> bool:
    """True when ``new/old`` is beyond ``flag`` either way; values under
    ``floor`` count as ``floor``, so 0 -> 0 and tiny amounts stay put."""
    ratio = max(new, floor) / max(old, floor)
    return ratio > flag or ratio < 1 / flag


def compare(old: dict, new: dict, flag: float = 1.3) -> dict:
    qo, qn = old["queries"], new["queries"]
    common = sorted(set(qo) & set(qn))
    co, cn = old.get("counters", {}), new.get("counters", {})

    wall_movers = [
        {
            "query": name,
            "old_sec": qo[name],
            "new_sec": qn[name],
            "ratio": round(qn[name] / max(qo[name], 1e-9), 2),
        }
        for name in common
        if _moved(qo[name], qn[name], flag, floor=0.001)
    ]
    wall_movers.sort(key=lambda m: -m["ratio"])

    counter_movers = []
    for name in common:
        if name not in co or name not in cn:
            continue
        for phase in ("build", "exec"):
            for key in EXACT + AMOUNTS:
                a, b = co[name][phase][key], cn[name][phase][key]
                if (a != b) if key in EXACT else _moved(a, b, flag):
                    counter_movers.append(
                        {"query": name, "phase": phase, "counter": key,
                         "old": a, "new": b}
                    )

    total_o = sum(qo[n] for n in common)
    total_n = sum(qn[n] for n in common)
    summary = {
        "common_queries": len(common),
        "counters": bool(co and cn),
        "total_old": round(total_o, 1),
        "total_new": round(total_n, 1),
        "total_ratio": round(total_n / max(total_o, 1e-9), 3),
        "flag": flag,
        "n_wall_movers": len(wall_movers),
        "n_counter_movers": len(counter_movers),
    }
    return {
        "summary": summary,
        "wall_movers": wall_movers,
        "counter_movers": counter_movers,
    }


def main() -> None:
    flag = 1.3
    argv = sys.argv[1:]
    if "--flag" in argv:
        i = argv.index("--flag")
        flag = float(argv[i + 1])
        argv = argv[:i] + argv[i + 2:]
    args = [a for a in argv if not a.startswith("--")]
    if len(args) != 2:
        raise SystemExit(__doc__)
    with open(args[0]) as fh:
        old = json.load(fh)
    with open(args[1]) as fh:
        new = json.load(fh)
    print(json.dumps(compare(old, new, flag), indent=1))


if __name__ == "__main__":
    main()
