"""Smoke test of the benchmark itself (a few minutes on 4 cores).

    python3 perfbench/smoke.py

For each workload: a short untraced and a short traced run at sf0.001-sized
tables must exit 0 and emit every end-to-end (resp. per-layer) metric of
BENCHMARK.json with its unit, correct and with no failures; a run with an
injected wrong expected result must report itself incorrect with
failed > 0.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "3", "--trace", str(trace), "--scale", "0.1", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, f"{cmd} exited {p.returncode}: {p.stderr[-2000:]}"
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in (x["name"] for x in spec["workloads"]):
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            res = run(w, trace)
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
            for m in spec[group]:
                got = res["metrics"].get(m["name"])
                assert got is not None, f"{w}: {m['name']} missing"
                assert got["unit"] == m["unit"], f"{w}: {m['name']} unit {got['unit']}"
                assert isinstance(got["value"], float), f"{w}: {m['name']} not a number"
            if trace == 0:
                zero = [m["name"] for m in spec[group] if res["metrics"][m["name"]]["value"] <= 0]
                assert not zero, f"{w}: end-to-end metrics at 0: {zero}"
            print(f"ok  {w} trace={trace}")
        bad = run(w, 0, "--inject-wrong-checksum")
        assert not bad["correct"] and bad["failed"] > 0, bad
        print(f"ok  {w} injected wrong result raises failed_ratio "
              f"({bad['failed']}/{bad['attempted']})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
