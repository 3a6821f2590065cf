"""Compare two result sets of the benchmark.

    python3 perfbench/compare.py BASE.jsonl CHANGE.jsonl

Each file holds the lines ``run.py --out FILE`` appends, one per run.
For every workload and metric, end-to-end (runs with ``--trace 0``) and
per-layer (``--trace 1``), it prints each side's run count, median and
quartiles (``statistics.quantiles(values, n=4)``) and the change's
median over the base's. For end-to-end metrics it also applies the
bounds in ``BENCHMARK.json``:

- ``worse``: the change's median is worse than the base's by more than
  the metric's bound;
- ``unresolved``: the base's own quartile spread exceeds the bound, so
  the runs cannot tell, unless every change run beats every base run;
- ``ok`` otherwise.

It claims no gain; a gain needs interleaved pairs and the rule of the
repository's benchmark guide.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def load(path: str) -> dict[tuple[str, int], dict[str, list[float]]]:
    """(workload, trace) -> metric -> values, one value per run."""
    out: dict[tuple[str, int], dict[str, list[float]]] = {}
    with open(path) as fh:
        for line in fh:
            if not line.strip():
                continue
            rec = json.loads(line)
            slot = out.setdefault((rec["workload"], int(rec["trace"])), {})
            for name, m in rec["metrics"].items():
                slot.setdefault(name, []).append(float(m["value"]))
    return out


def bounds(path: str) -> dict[str, dict]:
    with open(path) as fh:
        spec = json.load(fh)
    return {m["name"]: m for m in spec["end_to_end"]}


def verdict(base: list[float], change: list[float], spec: dict) -> str:
    lower = spec["better"] == "lower"
    q1, med, q3 = stats.quartiles(base)
    c_med = stats.median(change)
    if med == 0:
        return "unresolved"
    worse = (c_med - med) / med if lower else (med - c_med) / med
    if worse > spec["bound"]:
        return "worse"
    beats_all = max(change) < min(base) if lower else min(change) > max(base)
    if (q3 - q1) / med > spec["bound"] and not beats_all:
        return "unresolved"
    return "ok"


def fmt(x: float) -> str:
    return f"{x:.4g}"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--spec", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    args = ap.parse_args(argv)
    a, b = load(args.base), load(args.change)
    e2e = bounds(args.spec) if os.path.isfile(args.spec) else {}
    status = 0
    for key in sorted(set(a) | set(b)):
        workload, trace = key
        print(f"## {workload} ({'per-layer' if trace else 'end-to-end'})")
        print("metric | base n, median [q1, q3] | change n, median [q1, q3] | change/base | verdict")
        ma, mb = a.get(key, {}), b.get(key, {})
        for name in sorted(set(ma) | set(mb)):
            cells = []
            for vals in (ma.get(name), mb.get(name)):
                if vals:
                    q1, med, q3 = stats.quartiles(vals)
                    cells.append(f"{len(vals)}, {fmt(med)} [{fmt(q1)}, {fmt(q3)}]")
                else:
                    cells.append("-")
            ratio = v = ""
            if ma.get(name) and mb.get(name):
                base_med = stats.median(ma[name])
                ratio = fmt(stats.median(mb[name]) / base_med) if base_med else "-"
                if not trace and name in e2e:
                    v = verdict(ma[name], mb[name], e2e[name])
                    status |= v == "worse"
            print(f"{name} | {cells[0]} | {cells[1]} | {ratio} | {v}")
        print()
    return status


if __name__ == "__main__":
    sys.exit(main())
