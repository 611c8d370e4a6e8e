"""Split a Spark driver's CPU time over one benchmark phase by thread class.

    python tools/jvm_cpu.py --workload log_stream [--phase setup|cold|run] [--reps 3]
        [--seed 1] [--java-options "-XX:TieredStopAtLevel=1"] [--json]

Starts a fresh driver the way ``perfbench/worker.py`` does (``local[4]``,
the benchmark's 12 s run length), runs one benchmark phase in it and
prints the CPU seconds its process group spent there, by thread class:

  c2, c1      the JIT compiler threads (``C2 CompilerThre``, ``C1 CompilerThre``)
  gc          G1 threads (``GC Thread#N``, ``G1 *``)
  executor    executor task threads (``Executor task launch worker``)
  driver      py4j connection threads (``Thread-N``), stream execution
              threads and the JVM's main thread
  jvm_other   every other JVM thread (scheduler, RPC, VM thread, ...)
  jvm_exited  JVM CPU of threads that ended between two samples
  launcher    processes the driver JVM's process reaped: spark-class's
              short-lived launcher JVM (``launcher.Main``), which runs
              before the driver JVM starts
  python      the driver's Python process and its Python workers (minus
              this tool's sampler thread)

``--phase setup`` is perfbench's set-up: from the start of this process
to a running session and a built registry (imports, ``get_spark``,
``registry()``), so the JVM and launcher count from their start.
``--phase cold`` (the default) is perfbench's cold phase: for
``warehouse`` the six builds and first actions, for ``log_stream`` the
source build, query start and first micro-batch. ``--phase run`` runs the
whole workload (``run_warehouse`` / ``run_log_stream``) and also prints the
record's ``cold_cpu_s``, ``warm_s``, ``capacity_eps`` and
``latency_tail_ms``. ``--java-options`` replaces the driver's
``defaultJavaOptions`` (``session.JIT_POLICY`` plus the class-data
archive, ``cds.py``) for this run: ``--java-options ""`` runs the JVM's
defaults, and the policy alone runs it without the archive. With
``--reps N`` it runs N fresh processes one after another and prints each
class's median.

Thread CPU is read from ``/proc/<pid>/task/<tid>/stat`` every 0.2 s, so a
thread that ends mid-phase (the JVM starts and stops compiler threads on
demand) keeps all but its last fraction of a sample; the rest is
``jvm_exited``. The tool only reads ``/proc``; the workload's inputs and
outputs go to a temporary directory that it deletes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "perfbench"))

CLASSES = ("c2", "c1", "gc", "executor", "driver", "jvm_other", "jvm_exited", "launcher",
           "python")
RUN_METRICS = ("cold_cpu_s", "warm_s", "capacity_eps", "latency_tail_ms")
TICK = os.sysconf("SC_CLK_TCK")
SAMPLE_S = 0.2
CORES = 4  # local[N], as BENCHMARK.json runs perfbench
SECONDS = 12.0  # BENCHMARK.json's run_seconds


def thread_class(comm: str) -> str:
    """Class of a JVM thread from its (15-character) kernel name."""
    if comm.startswith("C2 CompilerThre"):
        return "c2"
    if comm.startswith("C1 CompilerThre"):
        return "c1"
    if comm.startswith(("GC Thread", "G1 ")):
        return "gc"
    if comm.startswith("Executor task l"):
        return "executor"
    if comm == "java" or comm.startswith(("Thread-", "stream executio")):
        return "driver"
    return "jvm_other"


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(comm, fields after comm) of a /proc stat file, or None if it is gone."""
    try:
        with open(path) as f:
            head, rest = f.read().rsplit(")", 1)
    except (OSError, ValueError):
        return None
    return head.split("(", 1)[1], rest.split()


def _group_pids(pgid: int) -> dict[int, str]:
    """{pid: comm} of every process in the process group."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (st := _stat(f"/proc/{d}/stat")) and int(st[1][2]) == pgid:
            out[int(d)] = st[0]
    return out


def process_ticks(pgid: int) -> dict[int, tuple[str, int, int]]:
    """{pid: (comm, user + system ticks, ticks of its reaped children)}."""
    out = {}
    for pid, comm in _group_pids(pgid).items():
        if st := _stat(f"/proc/{pid}/stat"):
            f = [int(x) for x in st[1][11:15]]
            out[pid] = (comm, f[0] + f[1], f[2] + f[3])
    return out


def thread_ticks(pid: int) -> dict[int, tuple[str, int]]:
    """{tid: (comm, user + system ticks)} of a process's live threads."""
    out = {}
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for t in tids:
        if st := _stat(f"/proc/{pid}/task/{t}/stat"):
            out[int(t)] = (st[0], int(st[1][11]) + int(st[1][12]))
    return out


def _jvm_pids(procs: dict[int, tuple[str, int, int]]) -> list[int]:
    return [p for p, (comm, *_) in procs.items() if comm == "java"]


class PhaseSampler:
    """CPU seconds this process group spends between ``start()`` and
    ``stop()``, split by ``CLASSES``; with ``since_start`` from the start
    of each process instead."""

    def __init__(self, since_start: bool = False):
        self.since_start = since_start
        self.pgid = os.getpgrp()
        self._halt = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._seen: dict[tuple[int, int], tuple[str, int]] = {}

    def _sample(self) -> None:
        for pid in _jvm_pids(process_ticks(self.pgid)):
            for tid, v in thread_ticks(pid).items():
                self._seen[(pid, tid)] = v

    def _loop(self) -> None:
        while not self._halt.wait(SAMPLE_S):
            self._sample()
        self._sample()
        st = _stat("/proc/thread-self/stat")
        self._own = int(st[1][11]) + int(st[1][12])

    def start(self) -> PhaseSampler:
        self._procs0 = {} if self.since_start else process_ticks(self.pgid)
        self._threads0 = {(p, t): v for p in _jvm_pids(self._procs0)
                          for t, v in thread_ticks(p).items()}
        self._thread.start()
        return self

    def stop(self) -> dict[str, float]:
        self._halt.set()
        self._thread.join()
        procs1 = process_ticks(self.pgid)
        ticks = dict.fromkeys(CLASSES, 0)
        for pid, (comm, own1, reaped1) in procs1.items():
            _, own0, reaped0 = self._procs0.get(pid, (comm, 0, 0))
            d = own1 - own0
            if comm != "java":
                ticks["python"] += d + reaped1 - reaped0
                continue
            ticks["launcher"] += reaped1 - reaped0
            attributed = 0
            for (p, tid), (tcomm, t) in self._seen.items():
                if p == pid:
                    dt = t - self._threads0.get((p, tid), (tcomm, 0))[1]
                    ticks[thread_class(tcomm)] += dt
                    attributed += dt
            ticks["jvm_exited"] += d - attributed
        ticks["python"] -= self._own
        out = {k: v / TICK for k, v in ticks.items()}
        out["total"] = sum(out.values())
        out["sampler"] = self._own / TICK
        return out


def _spark(run_root: str, java_options: str | None):
    """A session configured like perfbench's untraced workers."""
    from gmall_flink_230422_spark.session import get_spark

    tmp = os.path.join(run_root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_root, "spark-warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        "spark.ui.showConsoleProgress": "false",
    }
    if java_options is not None:
        conf["spark.driver.defaultJavaOptions"] = java_options
    spark = get_spark("jvm-cpu", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def measure(args) -> dict:
    """One fresh driver: set up, then sample the chosen phase (or the set-up)."""
    try:
        os.setpgid(0, 0)  # the JVM and its Python workers join this group
    except PermissionError:  # already a session leader
        pass
    import datagen
    import tracing
    import worker
    from run import SCALE

    from gmall_flink_230422_spark.plans import registry

    run_root = tempfile.mkdtemp(prefix="jvm_cpu-")
    spark = None
    try:
        data = os.path.join(run_root, "data")
        if args.workload == "warehouse" and args.phase != "setup":
            datagen.write_tables(data, args.seed, SCALE)
        setup = PhaseSampler(since_start=True).start() if args.phase == "setup" else None
        spark = _spark(run_root, args.java_options)
        specs = registry()
        if setup:
            return setup.stop()
        spans = tracing.Spans(run_id="jvm_cpu")
        wargs = argparse.Namespace(run_root=run_root, seed=args.seed, seconds=SECONDS,
                                   inject_wrong_checksum=False)
        sampler = PhaseSampler().start()
        rec = {}
        if args.phase == "run":
            fn = {"warehouse": worker.run_warehouse, "log_stream": worker.run_log_stream}
            rec = fn[args.workload](spark, specs, wargs, spans, False)
        elif args.workload == "warehouse":
            for n in worker.WAREHOUSE:
                specs[n].fn(spark, data).write.format("noop").mode("overwrite").save()
        else:
            pipe = worker.LogPipeline(spark, os.path.join(run_root, "log_stream"), spans, False)
            pipe.cold_start(datagen.LogGenerator(args.seed))
        out = sampler.stop()
        flat = {**rec.get("layers", {}), **rec}
        out.update({k: float(flat[k]) for k in RUN_METRICS if k in flat})
        if rec.get("failed"):
            out["failed"] = rec["failed"]
        return out
    finally:
        if spark is not None:
            for q in spark.streams.active:
                q.stop()
            spark.stop()
        shutil.rmtree(run_root, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("warehouse", "log_stream"))
    ap.add_argument("--phase", choices=("setup", "cold", "run"), default="cold")
    ap.add_argument("--reps", type=int, default=1, help="fresh processes, one after another")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--java-options", help="driver defaultJavaOptions instead of the policy")
    ap.add_argument("--json", action="store_true", help="print one JSON object only")
    args = ap.parse_args()

    if args.reps > 1:
        cmd = [sys.executable, __file__, "--workload", args.workload, "--phase", args.phase,
               "--seed", str(args.seed), "--json"]
        if args.java_options is not None:
            cmd.append(f"--java-options={args.java_options}")
        runs = [json.loads(subprocess.run(cmd, check=True, capture_output=True, text=True)
                           .stdout.strip().splitlines()[-1]) for _ in range(args.reps)]
        cols = defaultdict(list)
        for r in runs:
            for k, v in r.items():
                cols[k].append(v)
        res = {k: statistics.median(v) for k, v in cols.items()}
        res["reps"] = runs
    else:
        os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
        os.environ.pop("OMP_NUM_THREADS", None)
        res = measure(args)
    if args.json:
        print(json.dumps(res))
        return 0
    total = res["total"] or 1.0
    print(f"{args.workload} phase={args.phase} reps={args.reps} "
          f"java options={'default' if args.java_options is None else repr(args.java_options)}")
    for k in (*CLASSES, "total"):
        print(f"  {k:12s} {res[k]:9.2f} s  {100 * res[k] / total:5.1f} %")
    for k in RUN_METRICS:
        if k in res:
            print(f"  {k:16s} {res[k]:12.4g}")
    if res.get("failed"):
        print(f"  failed checks    {res['failed']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
