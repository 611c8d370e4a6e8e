"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload warehouse --seed 1 --seconds 12 --trace 0

Each run makes its inputs from ``--seed`` under a per-run root in
``.perfbench_runs/`` (``TMPDIR`` and ``SPARK_LOCAL_DIRS`` point there too)
and starts the workload process and two probe processes side by side (the
three set-up samples). Once all three are set up, the probes run the
workload's cold phase one after the other (log_stream only), and then the
workload process runs the whole workload, each process alone. It samples
the workload process tree's resident memory, checks the outputs, deletes
the run root and prints a report. The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics, or with ``--trace 1`` the per-layer metrics). The full
run record is kept in ``.perfbench_runs/records/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("warehouse", "log_stream")
SETUP_SAMPLES = 3  # the workload process is one of them
# log_stream cold samples per run: the workload process and both probes. Its
# cold phase is short (≈9 s) and its CPU time varies by ±10 % from one fresh
# process to the next, so it takes the median of three. The warehouse's ≈20 s
# cold phase varies less and costs too much to repeat: one sample.
LOG_STREAM_COLD_SAMPLES = 3
DEADLINE_S = 170
SCALE = 0.25  # warehouse tables: share of the sf0.01 fixture row counts


def load_spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def _pgroup_pids(pgid: int) -> list[int]:
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            if int(fields[2]) == pgid:
                pids.append(int(d))
        except (OSError, IndexError, ValueError):
            continue
    return pids


def _rss_bytes(pids: list[int]) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


def _killpg(pgid: int, sig: int) -> None:
    try:
        os.killpg(pgid, sig)
    except ProcessLookupError:
        pass


def _reap(proc: subprocess.Popen, sig: int = signal.SIGTERM) -> None:
    """Stop the process group ``proc`` leads (the worker and its JVM) and
    wait until all of it has ended."""
    if _pgroup_pids(proc.pid) or proc.poll() is None:
        _killpg(proc.pid, sig)
    try:
        proc.wait(timeout=10)
    except subprocess.TimeoutExpired:
        _killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    deadline = time.time() + 10
    while _pgroup_pids(proc.pid):
        if time.time() > deadline:
            _killpg(proc.pid, signal.SIGKILL)
        time.sleep(0.05)


def _start(args: list[str], env: dict, log_dir: str) -> subprocess.Popen:
    """Start a worker in its own process group; its output goes to files so
    a full pipe can never stall it."""
    fd, path = tempfile.mkstemp(prefix=f"{args[0]}-", suffix=".log", dir=log_dir)
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), *args],
        env=env, stdout=fd, stderr=subprocess.STDOUT, start_new_session=True,
    )
    os.close(fd)
    proc.log_path = path
    return proc


def _finish(proc: subprocess.Popen, deadline: float) -> str:
    """Wait for the worker to exit, then kill what is left of its process
    group: its JVM has nothing more to write."""
    try:
        proc.wait(timeout=max(1.0, deadline - time.time()))
    finally:
        _reap(proc, signal.SIGKILL)
    with open(proc.log_path) as f:
        out = f.read()
    if proc.returncode != 0:
        sys.stderr.write(out[-4000:])
        raise RuntimeError(f"worker {proc.args[2]} exited with {proc.returncode}")
    return out


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests (``steal``)."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def _wait_ready(procs: list[subprocess.Popen], deadline: float) -> None:
    """Wait until every process has written its set-up record."""
    while not all(os.path.exists(p.ready) for p in procs):
        for p in procs:
            if p.poll() is not None and not os.path.exists(p.ready):
                _finish(p, deadline)  # raises with the worker's log
                raise RuntimeError(f"worker {p.args[2]} ended before it was set up")
        if time.time() > deadline:
            raise TimeoutError("set-up overran the deadline")
        time.sleep(0.05)


def _setup_record(proc: subprocess.Popen) -> dict:
    with open(proc.ready) as f:
        rec = json.load(f)
    return {**rec, "setup_s": rec["ready"] - proc.t_spawn}


def run_all(n_probes: int, n_cold: int, args: list[str], wargs: list[str], env: dict,
            run_root: str, deadline: float) -> tuple[list[dict], list[dict], dict, int]:
    """Start the workload process and ``n_probes`` probe processes side by
    side, so that all of them set up at once. Once every one is set up, the
    probes that only set up exit; then the first ``n_cold`` probes run the
    workload's cold phase one after another, and last the workload process
    runs, each alone. Samples the workload process group's resident memory.
    Returns (set-up records, probe cold records, the workload's record, peak
    RSS in bytes)."""
    log_dir = env["TMPDIR"]

    def start(i: int, worker_args: list[str], measures: bool) -> subprocess.Popen:
        ready, go, out = (os.path.join(run_root, f"{x}-{i}") for x in ("ready", "go", "out"))
        extra = ["--go", go] if measures else []
        t_spawn = time.time()
        proc = _start([*worker_args, *extra, "--ready", ready, "--out", out], env, log_dir)
        proc.t_spawn, proc.ready, proc.go, proc.out = t_spawn, ready, go, out
        return proc

    work = start(0, wargs, True)
    procs = [work]
    peak = 0
    try:
        for i in range(1, n_probes + 1):
            procs.append(start(i, ["probe", *args], i <= n_cold))
        _wait_ready(procs, deadline)
        setups = [_setup_record(p) for p in procs]
        for p in procs[n_cold + 1:]:
            _finish(p, deadline)
        records = []
        for p in [*procs[1:n_cold + 1], work]:
            open(p.go, "w").close()
            while p.poll() is None:
                if time.time() > deadline:
                    raise TimeoutError(f"worker {p.args[2]} overran the deadline")
                if p is work:
                    peak = max(peak, _rss_bytes(_pgroup_pids(p.pid)))
                time.sleep(0.1)
            _finish(p, deadline)
            with open(p.out) as f:
                records.append(json.load(f))
    finally:
        for p in procs:
            _reap(p)
    return setups, records[:-1], records[-1], peak


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=4, help="local[N] cores (default 4)")
    ap.add_argument("--scale", type=float, default=SCALE,
                    help=f"warehouse table size as a share of sf0.01 (default {SCALE})")
    ap.add_argument("--inject-wrong-checksum", action="store_true",
                    help="corrupt one expected result (for the smoke test)")
    args = ap.parse_args()
    # on SIGTERM unwind through the finally blocks that stop the workers
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_run = time.time()
    deadline = t_run + DEADLINE_S

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "gmall_flink_230422_spark", "session.py")):
        print("perfbench: run from a checkout root; the engine package is missing",
              file=sys.stderr)
        return 2
    spec = load_spec()

    run_root = os.path.join(root, ".perfbench_runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    records = os.path.join(root, ".perfbench_runs", "records")
    tmp = os.path.join(run_root, "tmp")
    for d in (tmp, os.path.join(run_root, "local"), records):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(run_root, "local"),
        "SPARK_GRAFT_CPUS": str(args.cores),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    env.pop("OMP_NUM_THREADS", None)
    try:
        if args.workload == "warehouse":
            import datagen

            datagen.write_tables(os.path.join(run_root, "data"), args.seed, args.scale)
        common = ["--run-root", run_root, "--cores", str(args.cores),
                  "--workload", args.workload, "--seed", str(args.seed)]
        wargs = ["workload", *common, "--seconds", str(args.seconds), "--trace", str(args.trace)]
        if args.inject_wrong_checksum:
            wargs.append("--inject-wrong-checksum")
        # a traced run's cold phase carries the tracing, so it is not mixed
        # with untraced cold samples
        measure_cold = args.workload == "log_stream" and not args.trace
        n_cold = LOG_STREAM_COLD_SAMPLES - 1 if measure_cold else 0
        ticks = _cpu_ticks()
        setups, probe_colds, rec, peak = run_all(SETUP_SAMPLES - 1, n_cold, common, wargs, env,
                                                 run_root, deadline)
        steal = steal_share(ticks, _cpu_ticks())
    finally:
        shutil.rmtree(run_root, ignore_errors=True)

    colds = [*probe_colds, rec]
    med = {k: statistics.median(x[k] for x in setups)
           for k in ("setup_s", "session.import_s", "session.jvm_start_s", "plans.registry_s")}
    med.update({k: statistics.median(x[k] for x in colds) for k in ("cold_s", "cold_cpu_s")})
    e2e = {"setup_s": med["setup_s"], "cold_cpu_s": med["cold_cpu_s"]}
    layers = dict(rec["layers"], cold_s=med["cold_s"], warm_s=rec["warm_s"],
                  latency_p50_ms=rec["latency_p50_ms"], latency_tail_ms=rec["latency_tail_ms"],
                  peak_rss_mb=peak / 2**20)
    for k in ("session.import_s", "session.jvm_start_s", "plans.registry_s"):
        layers[k] = med[k]
    attempted = sum(int(x["attempted"]) for x in colds)
    failed = sum(int(x["failed"]) for x in colds)
    valid = rec.get("valid", True)

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = {**layers, **e2e}
    metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": args.cores, "time": t_run,
        "end_to_end": e2e, "layers": layers, "setups": setups, "cold_probes": probe_colds,
        "failed_ratio": failed / attempted, "valid": valid, "cpu_steal_share": steal,
        "detail": {k: v for k, v in rec.items() if k not in ("layers", "setup")},
    }
    record["detail"].setdefault("timeline", {}).update(run_start=t_run, run_end=time.time())
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(t_run * 1000)}.json"
    with open(os.path.join(records, name), "w") as f:
        json.dump(record, f, default=str)

    print(f"workload {args.workload}  seed {args.seed}  cores {args.cores}  "
          f"trace {args.trace}  valid {valid}  cpu steal {steal:.1%}")
    for k in (*e2e, "cold_s", "warm_s", "latency_p50_ms", "latency_tail_ms"):
        print(f"  {k:32s} {source[k]:14.4f} {units.get(k, '')}")
    print(f"  {'failed_ratio':32s} {failed / attempted:14.4f} ratio")
    if "latency_tail_pct" in rec:
        print(f"  latency tail is p{rec['latency_tail_pct']} of n={rec['latency_n']}")
    if args.trace:
        print("  layer table:")
        for k in sorted(layers):
            print(f"    {k:36s} {float(layers[k]):16.4f} {units.get(k, '')}")
    correct = failed == 0 and valid
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
