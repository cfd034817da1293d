"""Record and check the benchmark baseline (perfbench/baseline.json).

    python3 perfbench/baseline.py record .bench_out/*-trace0.json
    python3 perfbench/baseline.py check .bench_out/bulk_table-seed7-trace0.json

`record` folds the end-to-end run records of one host into per-workload
medians and quartiles, keeping the host fingerprint. `check` compares
one run record with the baseline of its workload: it refuses records
from another fingerprint, and otherwise prints each metric's change
against the baseline median next to the bound BENCHMARK.json fixes."""

from __future__ import annotations

import json
import os
import statistics
import sys

from measure import check_comparable

HERE = os.path.dirname(os.path.abspath(__file__))
BASELINE = os.path.join(HERE, "baseline.json")


def record(paths: list[str]) -> dict:
    by_workload: dict[str, list[dict]] = {}
    for p in paths:
        with open(p) as fh:
            r = json.load(fh)
        if r["trace"] or r["failures"]:
            raise ValueError(f"{p}: only passing untraced runs form a "
                             "baseline")
        by_workload.setdefault(r["workload"], []).append(r)
    out = {}
    for wl, runs in sorted(by_workload.items()):
        for r in runs[1:]:
            check_comparable(runs[0], r)
        metrics = {}
        for name in runs[0]["metrics"]:
            vals = [r["metrics"][name] for r in runs]
            q1, _, q3 = statistics.quantiles(vals, n=4)
            metrics[name] = {"median": statistics.median(vals), "q1": q1,
                             "q3": q3, "values": vals}
        out[wl] = {"fingerprint": runs[0]["fingerprint"],
                   "seeds": [r["seed"] for r in runs], "metrics": metrics}
    return out


def check(path: str, baseline: dict, spec: dict) -> list[str]:
    with open(path) as fh:
        r = json.load(fh)
    base = baseline[r["workload"]]
    check_comparable(r, base)
    lines = []
    for m in spec["end_to_end"]:
        b = base["metrics"][m["name"]]["median"]
        change = r["metrics"][m["name"]] / b - 1.0
        worse = change < -m["bound"] if m["better"] == "higher" \
            else change > m["bound"]
        lines.append(f"{m['name']:28s} {r['metrics'][m['name']]:12.4f} "
                     f"{m['unit']:6s} baseline {b:12.4f} change "
                     f"{change:+.3f} bound {m['bound']:.2f}"
                     + ("  WORSE" if worse else ""))
    return lines


def main(argv: list[str]) -> int:
    if len(argv) < 2 or argv[0] not in ("record", "check"):
        print(__doc__, file=sys.stderr)
        return 2
    if argv[0] == "record":
        with open(BASELINE, "w") as fh:
            json.dump(record(argv[1:]), fh, indent=1)
            fh.write("\n")
        return 0
    with open(BASELINE) as fh:
        baseline = json.load(fh)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    try:
        for path in argv[1:]:
            print("\n".join(check(path, baseline, spec)))
    except ValueError as e:
        print(f"refused: {e}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
