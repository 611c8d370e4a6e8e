"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py SET_A SET_B

Each set is a directory of run records: ``run.py`` writes one JSON file per
run to ``.perfbench_runs/records/``; move a set's files into a directory of
their own.
For every workload and end-to-end metric it prints each set's median and
quartiles and whether the medians agree within the metric's bound from
BENCHMARK.json (B no worse than A by more than the bound). It also prints
the host's CPU steal during the runs, which slows every metric. When a set
holds traced and untraced records of the same workload it also prints the tracing
overhead on ``cold_s``, ``cold_cpu_s`` and ``warm_s``. Exits 1 if any metric disagrees.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
from collections import defaultdict

SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def load_set(path: str) -> dict[tuple[str, int], list[dict]]:
    """{(workload, trace): [end-to-end metrics plus cold_s, warm_s and host steal]}"""
    out = defaultdict(list)
    for p in sorted(glob.glob(os.path.join(path, "*.json"))):
        with open(p) as f:
            r = json.load(f)
        extra = {k: r["layers"][k] for k in ("cold_s", "warm_s") if k in r.get("layers", {})}
        if "cpu_steal_share" in r:
            extra["cpu_steal_share"] = r["cpu_steal_share"]
        out[(r["workload"], r["trace"])].append({**r["end_to_end"], **extra})
    return out


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__)
        return 2
    with open(SPEC) as f:
        spec = json.load(f)
    a, b = load_set(argv[0]), load_set(argv[1])
    ok = True
    print(f"{'workload':12s} {'metric':16s} {'A q1/med/q3':>30s} {'B q1/med/q3':>30s} "
          f"{'B/A':>7s} {'bound':>6s}  verdict")
    for w in sorted({k[0] for k in a} | {k[0] for k in b}):
        ra, rb = a.get((w, 0), []), b.get((w, 0), [])
        if not ra or not rb:
            continue
        for m in spec["end_to_end"]:
            name = m["name"]
            va = [r[name] for r in ra if name in r]
            vb = [r[name] for r in rb if name in r]
            if not va or not vb:
                continue
            qa, qb = quartiles(va), quartiles(vb)
            ratio = qb[1] / qa[1] if qa[1] else float("inf")
            worse = ratio - 1 if m["better"] == "lower" else 1 - ratio
            agree = worse <= m["bound"]
            ok &= agree
            print(f"{w:12s} {name:16s} {'/'.join(f'{x:.4g}' for x in qa):>30s} "
                  f"{'/'.join(f'{x:.4g}' for x in qb):>30s} {ratio:7.3f} {m['bound']:6.2f}  "
                  f"{'agree' if agree else 'DISAGREE'}")
    for label, s in (("A", a), ("B", b)):
        for (w, trace), rs in sorted(s.items()):
            steal = [r["cpu_steal_share"] for r in rs if "cpu_steal_share" in r]
            if steal:
                print(f"host cpu steal {label} {w} trace={trace}: median "
                      f"{statistics.median(steal):.1%}, max {max(steal):.1%} over {len(steal)} runs")
        for w in sorted({k[0] for k in s}):
            plain, traced = s.get((w, 0), []), s.get((w, 1), [])
            if plain and traced:
                for name in ("cold_s", "cold_cpu_s", "warm_s"):
                    if not all(name in r for r in plain + traced):
                        continue
                    mp = statistics.median(r[name] for r in plain)
                    mt = statistics.median(r[name] for r in traced)
                    print(f"tracing overhead {label} {w} {name}: {mt - mp:+.3f} s "
                          f"({(mt / mp - 1) * 100:+.1f} %)")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
