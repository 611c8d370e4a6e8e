"""One fresh process of a benchmark run (started by ``run.py``).

Every process sets up and writes its set-up record to ``--ready``. Without
``--go`` it then exits (a set-up sample). With ``--go`` it waits for that
file: ``worker.py probe`` then runs only the workload's cold phase (a cold
sample) and ``worker.py workload`` runs the whole workload; each writes its
record as JSON to ``--out``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import statistics
import sys
import threading
import time

T_PROCESS = time.time()

import numpy as np  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.getcwd())

import tracing  # noqa: E402

WAREHOUSE = (
    "p10_base_log_split",
    "j6_dwd_order_detail",
    "p3_dwd_coupon_pay",
    "a2_tumble_multimetric",
    "q9_product_profit",
    "e_holt_winters",
)
WAREHOUSE_MIN_ROUNDS = 2

BRANCHES = ("page", "start", "display", "action", "err", "dirty")
TICK_S = 0.25
STEADY_EPS = 1000
OVERLOAD_EPS = 16000
# share of --seconds spent in each log_stream phase
WARMUP_SHARE, STEADY_SHARE, OVERLOAD_SHARE = 1 / 3, 1 / 2, 1 / 6
DRAIN_WAIT_S = 20
# caps a micro-batch at 4 s of ticks: overload batches all have the same size,
# so their cost and memory do not depend on how far the backlog has grown
MAX_FILES_PER_TRIGGER = int(4 / TICK_S)
LATE_BOUND_MS = 100.0  # a run whose generator runs later than this is invalid
TAIL_PCTS = (50, 75, 90, 95, 99, 99.9)


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value) at the highest of TAIL_PCTS with ≥ 10 values
    beyond it; the maximum (p100) when fewer than 20 values exist."""
    n = len(values)
    best = 100
    for p in TAIL_PCTS:
        if n * (100 - p) / 100 >= 10:
            best = p
    s = sorted(values)
    if not s:
        return best, 0.0
    k = (n - 1) * best / 100
    lo, hi = math.floor(k), math.ceil(k)
    return best, s[lo] + (s[hi] - s[lo]) * (k - lo)


def group_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) used so far by
    this process group: the worker, its JVM and the JVM's Python workers."""
    pgrp, total = os.getpgrp(), 0
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgrp:
            total += sum(int(x) for x in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------------ set-up
def setup(run_root: str, trace: bool):
    t0 = time.time()
    from gmall_flink_230422_spark.session import get_spark

    t1 = time.time()
    tmp = os.environ.get("TMPDIR", os.path.join(run_root, "tmp"))
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_root, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(run_root, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t2 = time.time()
    from gmall_flink_230422_spark.plans import registry

    specs = registry()
    t3 = time.time()
    return spark, specs, {
        "process_start": T_PROCESS,
        "ready": t3,
        "session.import_s": t1 - t0,
        "session.jvm_start_s": t2 - t1,
        "plans.registry_s": t3 - t2,
    }


# ------------------------------------------------------------ correctness
def _norm(v):
    """Cell normalization of tools/check_oracle.py."""
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0:
            v = 0.0
        return f"{v:.9g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def checksum(rows, cols) -> str:
    """Order-insensitive checksum of a result, columns taken by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(tuple(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update(repr(sorted(cols)).encode())
    for row in canon:
        h.update(repr(row).encode())
    return h.hexdigest()


def oracle_checksums(data_dir: str, specs, names) -> dict[str, str]:
    import duckdb

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    out = {}
    for n in names:
        res = con.sql(specs[n].oracle)
        out[n] = checksum(res.fetchall(), res.columns)
    con.close()
    return out


# --------------------------------------------------------------- warehouse
def run_warehouse(spark, specs, args, spans, trace: bool) -> dict:
    sc = spark.sparkContext
    data = os.path.join(args.run_root, "data")
    names = list(WAREHOUSE)
    failed = attempted = 0
    built, cold, construct_jobs, phases, cached = {}, {}, 0, {}, 0
    build_s = 0.0
    t_begin = time.time()
    cpu0 = group_cpu_s()
    with spans.span("workload.cold"):
        for n in names:
            attempted += 2
            try:
                sc.setJobGroup(f"build:{n}", n)
                with spans.span("plans.construct", query=n) as sp:
                    df = specs[n].fn(spark, data)
                analysis = tracing.analysis_ms(df) if trace else 0.0
                construct_jobs += len(sc.statusTracker().getJobIdsForGroup(f"build:{n}"))
                sc.setJobGroup(f"first:{n}", n)
                with spans.span("exec.first_action", query=n) as sa:
                    df.write.format("noop").mode("overwrite").save()
                built[n] = df
                build_s += sp["end"] - sp["start"]
                cold[n] = (sp["end"] - sp["start"]) + (sa["end"] - sa["start"])
            except Exception as e:  # noqa: BLE001 - every failure is counted
                failed += 1
                print(f"warehouse: {n} failed: {e}", file=sys.stderr)
                continue
            if trace:
                sc.setJobGroup("trace", "trace")
                phases["analysis"] = phases.get("analysis", 0.0) + analysis
                for k, v in tracing.planning_ms(df).items():
                    phases[k] = phases.get(k, 0.0) + v
                cached = max(cached, tracing.cached_bytes(spark))
    cold_cpu = group_cpu_s() - cpu0
    warm: dict[str, list[float]] = {n: [] for n in built}
    rounds = 0
    t_warm = time.time()
    with spans.span("workload.warm"):
        while rounds < WAREHOUSE_MIN_ROUNDS or time.time() - t_begin < args.seconds:
            for n, df in built.items():
                attempted += 1
                sc.setJobGroup(f"warm:{n}", n)
                t0 = time.time()
                try:
                    with spans.span("exec.warm_action", query=n):
                        df.write.format("noop").mode("overwrite").save()
                except Exception as e:  # noqa: BLE001
                    failed += 1
                    print(f"warehouse: {n} warm failed: {e}", file=sys.stderr)
                    continue
                warm[n].append(time.time() - t0)
            rounds += 1
    warm_wall = time.time() - t_warm
    sc.setJobGroup("check", "check")
    expected = oracle_checksums(data, specs, built)
    if args.inject_wrong_checksum and expected:
        first = next(iter(expected))
        expected[first] = "0" * 64
    wrong = []
    for n, df in built.items():
        attempted += 1
        got = checksum([tuple(r) for r in df.collect()], df.columns)
        if got != expected[n]:
            wrong.append(n)
            failed += 1
    latencies = [x * 1e3 for v in warm.values() for x in v]
    pct, tail_ms = tail(latencies)
    rec = {
        "cold_s": sum(cold.values()),
        "cold_cpu_s": cold_cpu,
        "warm_s": sum(statistics.median(v) for v in warm.values() if v),
        "latency_p50_ms": statistics.median(latencies),
        "latency_tail_ms": tail_ms,
        "latency_tail_pct": pct,
        "latency_n": len(latencies),
        "rounds": rounds,
        "per_query": {
            n: {"cold_s": cold[n], "warm_s": statistics.median(warm[n]) if warm[n] else None}
            for n in built
        },
        "wrong_outputs": wrong,
        "attempted": attempted,
        "failed": failed,
        "layers": {
            "plans.construct_s": build_s,
            "plans.construct_jobs": construct_jobs,
            "materialize.cached_bytes_peak": cached,
        },
        "warm_wall_s": warm_wall,
    }
    if trace:
        rec["layers"].update({
            "catalyst.analysis_ms": phases.get("analysis", 0.0),
            "catalyst.optimization_ms": phases.get("optimization", 0.0),
            "catalyst.planning_ms": phases.get("planning", 0.0),
        })
    return rec


# -------------------------------------------------------------- log_stream
class Generator(threading.Thread):
    """Lands one app-log file per tick on a fixed schedule: WARMUP and
    STEADY phases at STEADY_EPS, then OVERLOAD at OVERLOAD_EPS."""

    def __init__(self, gen, src: str, stage: str, phases: list[tuple[str, float, int]]):
        super().__init__(daemon=True)
        self.gen, self.src, self.stage, self.phases = gen, src, stage, phases
        self.files: dict[str, dict] = {}
        self.late_ms: list[float] = []
        self.t0 = None
        self.error = None

    def run(self):
        try:
            self._run()
        except Exception as e:  # noqa: BLE001
            self.error = repr(e)

    def _run(self):
        t0 = self.t0 = time.time()
        k = 0
        for phase, length, eps in self.phases:
            n_ticks = round(length / TICK_S)
            per_tick = int(eps * TICK_S)
            for _ in range(n_ticks):
                tick_start = t0 + k * TICK_S
                tick_end = tick_start + TICK_S
                idx = self.gen.pick(per_tick)
                # creation times spread evenly over the tick, in epoch ms
                ts_ms = (tick_start + (0.5 + np.arange(per_tick, dtype="float64")) * TICK_S / per_tick) * 1e3
                text, tally = self.gen.render(idx, ts_ms.astype("int64"))
                delay = tick_end - time.time()
                if delay > 0:
                    time.sleep(delay)
                name = f"tick-{k:06d}.txt"
                tmp = os.path.join(self.stage, name)
                with open(tmp, "w") as f:
                    f.write(text)
                os.rename(tmp, os.path.join(self.src, name))
                landed = time.time()
                self.late_ms.append((landed - tick_end) * 1e3)
                self.files[name] = {
                    "phase": phase,
                    "tally": tally,
                    "landed": landed,
                    "ts_ms": ts_ms,
                    "events": per_tick,
                }
                k += 1


def _source_batches(ckpt: str) -> dict[str, int]:
    """file name → batch id, from the file source's metadata log."""
    out = {}
    d = os.path.join(ckpt, "sources", "0")
    if not os.path.isdir(d):
        return out
    for f in os.listdir(d):
        if f.startswith("."):
            continue
        with open(os.path.join(d, f)) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def _parquet_rows(topic: str, batch_ids: set[int]) -> int:
    """Rows written to ``topic`` by the given micro-batches, from the parquet
    footers."""
    import pyarrow.parquet as pq

    n = 0
    for bid in batch_ids:
        d = os.path.join(topic, f"batch_id={bid}")
        if os.path.isdir(d):
            n += sum(pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
                     for f in os.listdir(d) if f.endswith(".parquet"))
    return n


def _committed(ckpt: str) -> set[int]:
    d = os.path.join(ckpt, "commits")
    if not os.path.isdir(d):
        return set()
    return {int(f) for f in os.listdir(d) if f.isdigit()}


class LogPipeline:
    """The BaseLogApp ODS->DWD hop under test: ``stream_text`` on a directory
    that app-log files land in -> ``apps.base_log_app`` -> one
    ``sinks.write_topic`` per branch, inside a benchmark-owned foreachBatch
    that times each call."""

    def __init__(self, spark, root: str, spans, trace: bool):
        from gmall_flink_230422_spark import apps, sinks
        from gmall_flink_230422_spark.sources.files import stream_text

        self.apps, self.sinks, self.stream_text = apps, sinks, stream_text
        self.spark, self.spans, self.trace = spark, spans, trace
        self.src, self.stage, self.out, self.ckpt = (
            os.path.join(root, x) for x in ("src", "stage", "out", "ckpt"))
        for d in (self.src, self.stage, self.out):
            os.makedirs(d, exist_ok=True)
        self.batches: dict[int, dict] = {}
        self.first_done = threading.Event()
        self.errors: list[str] = []
        self.stopping = False
        self.q = None

    def write_all(self, batch_df, batch_id):
        sc, spans, trace = self.spark.sparkContext, self.spans, self.trace
        sc.setJobGroup(f"batch:{batch_id}", "log_stream")
        rec = {"start": time.time(), "writes": [], "construct_s": 0.0}
        batch_df.persist()
        try:
            with spans.span("plans.construct") as sp:
                streams = self.apps.base_log_app(batch_df, batch=False)
            rec["construct_s"] = sp["end"] - sp["start"]
            sample = trace and batch_id == 1  # the first warm micro-batch stands for all
            if sample:
                analysis = sum(tracing.analysis_ms(streams[b]) for b in BRANCHES)
            for name in BRANCHES:
                with spans.span("sinks.write_topic", branch=name) as sw:
                    self.sinks.write_topic(
                        streams[name], os.path.join(self.out, name, f"batch_id={batch_id}"),
                        mode="overwrite",
                    )
                rec["writes"].append(sw["end"] - sw["start"])
            rec["end"] = time.time()
            if trace:
                sc.setJobGroup("trace", "trace")
                rec["cached_bytes"] = tracing.cached_bytes(self.spark)
                if sample:
                    ph = {"analysis": analysis}
                    for name in BRANCHES:
                        for k, v in tracing.planning_ms(streams[name]).items():
                            ph[k] = ph.get(k, 0.0) + v
                    rec["phases"] = ph
        except Exception as e:  # noqa: BLE001
            if not self.stopping:  # a batch cut short by stop() is not committed
                self.errors.append(repr(e))
            raise
        finally:
            batch_df.unpersist()
        self.batches[batch_id] = rec
        self.first_done.set()

    def cold_start(self, gen) -> dict:
        """Land one warm-up file, then build the source, start the query and
        wait until its first micro-batch has written every branch. Times that
        (wall and the process group's CPU)."""
        idx = gen.pick(int(STEADY_EPS * TICK_S))
        now_ms = time.time() * 1e3 + np.arange(len(idx), dtype="float64")
        text, tally = gen.render(idx, now_ms.astype("int64"))
        with open(os.path.join(self.stage, "cold.txt"), "w") as f:
            f.write(text)
        os.rename(os.path.join(self.stage, "cold.txt"), os.path.join(self.src, "cold.txt"))
        landed = t0 = time.time()
        cpu0 = group_cpu_s()
        with self.spans.span("workload.cold"):
            with self.spans.span("sources.stream_text"):
                raw = self.stream_text(self.spark, self.src, files_per_trigger=MAX_FILES_PER_TRIGGER)
            self.q = (
                raw.writeStream.foreachBatch(self.write_all)
                .queryName("perfbench_log_stream")
                .option("checkpointLocation", self.ckpt)
                .start()
            )
            self.first_done.wait(timeout=120)
        return {
            "cold_s": time.time() - t0,
            "cold_cpu_s": group_cpu_s() - cpu0,
            "file": {"phase": "cold", "tally": tally, "landed": landed, "events": len(idx)},
        }


def log_stream_probe(spark, args, spans) -> dict:
    """A cold sample in a process of its own: the cold start only, then a
    check of the first micro-batch's outputs against the file it read."""
    import datagen

    pipe = LogPipeline(spark, os.path.join(args.run_root, f"log_stream-{os.getpid()}"), spans, False)
    c = pipe.cold_start(datagen.LogGenerator(args.seed))
    got = {b: _parquet_rows(os.path.join(pipe.out, b), {0}) for b in BRANCHES}
    wrong = [b for b in BRANCHES if got[b] != c["file"]["tally"][b]]
    # the process exits without stopping the query; run.py stops its JVM
    return {"cold_s": c["cold_s"], "cold_cpu_s": c["cold_cpu_s"],
            "attempted": len(BRANCHES), "failed": len(wrong) + len(pipe.errors)}


def run_log_stream(spark, specs, args, spans, trace: bool) -> dict:
    import datagen

    pipe = LogPipeline(spark, os.path.join(args.run_root, "log_stream"), spans, trace)
    batches = pipe.batches
    gen = datagen.LogGenerator(args.seed)
    collector = None
    if trace:
        collector = tracing.ProgressCollector()
        spark.streams.addListener(collector)
    t_total = args.seconds
    phases = [
        ("warmup", WARMUP_SHARE * t_total, STEADY_EPS),
        ("steady", STEADY_SHARE * t_total, STEADY_EPS),
        ("overload", OVERLOAD_SHARE * t_total, OVERLOAD_EPS),
    ]
    # the warm-up file is already in place when the query starts: batch 0 is
    # the cold start of the pipeline
    cold = pipe.cold_start(gen)
    q = pipe.q
    gen_thread = Generator(gen, pipe.src, pipe.stage, phases)
    with spans.span("workload.stream"):
        gen_thread.start()
        gen_thread.join()
        t_gen_end = time.time()
        # let a micro-batch that started in the overload phase finish, so
        # capacity_eps has one to measure
        t_over = gen_thread.t0 + phases[0][1] + phases[1][1]
        while q.isActive and time.time() - t_gen_end < DRAIN_WAIT_S:
            over = {bid for bid, b in batches.items() if b["start"] >= t_over}
            if over & _committed(pipe.ckpt):
                break
            time.sleep(0.05)
    pipe.stopping = True
    try:
        q.stop()
    except Exception as e:  # noqa: BLE001
        pipe.errors.append(repr(e))
    if q.exception() is not None:
        pipe.errors.append(str(q.exception()))
    errors = pipe.errors
    progress = collector.progress if collector else [json.loads(x.json) for x in q.recentProgress]
    if collector:
        spark.streams.removeListener(collector)

    # ---- outputs and correctness: only batches the query committed count
    committed = _committed(pipe.ckpt)
    file_batch = _source_batches(pipe.ckpt)
    files = {**gen_thread.files, "cold.txt": cold["file"]}
    expected = dict.fromkeys(BRANCHES, 0)
    for name, meta in files.items():
        if file_batch.get(name) in committed:
            for b in BRANCHES:
                expected[b] += meta["tally"][b]
    got = {b: _parquet_rows(os.path.join(pipe.out, b), committed) for b in BRANCHES}
    wrong = [b for b in BRANCHES if got[b] != expected[b]]
    if args.inject_wrong_checksum:
        wrong.append("injected")
    attempted = len(BRANCHES) * max(1, len(batches))
    failed = len(wrong) + len(errors)

    # ---- latency of steady-phase events
    lat = []
    for name, meta in gen_thread.files.items():
        if meta["phase"] != "steady":
            continue
        bid = file_batch.get(name)
        if bid in committed and bid in batches:
            end_ms = batches[bid]["end"] * 1e3
            lat.extend((end_ms - meta["ts_ms"]).tolist())
    pct, tail_ms = tail(lat)

    # ---- per-batch progress (triggerExecution etc.)
    by_batch = {p["batchId"]: p for p in progress}

    def trig_s(bid: int) -> float:
        p = by_batch.get(bid)
        if p:
            return p["durationMs"].get("triggerExecution", 0) / 1e3
        return batches[bid]["end"] - batches[bid]["start"]

    steady_lo = gen_thread.t0 + phases[0][1]
    steady_trig, over_events, over_trig = [], 0, 0.0
    for bid, rec in batches.items():
        trig = trig_s(bid)
        if steady_lo <= rec["start"] < t_over:
            steady_trig.append(trig)
        if rec["start"] >= t_over and bid in committed:
            over_trig += trig
            over_events += sum(
                meta["events"] for name, meta in gen_thread.files.items()
                if file_batch.get(name) == bid
            )
    n_created = len(files)
    n_committed = sum(1 for name in files if file_batch.get(name) in committed)

    layers = {
        "plans.construct_s": statistics.median([b["construct_s"] for b in batches.values()]),
        "plans.construct_jobs": 0,
        "sinks.write_s": statistics.median([sum(b["writes"]) for b in batches.values()]),
        "sinks.writes_per_batch": statistics.median([len(b["writes"]) for b in batches.values()]),
        "sources.backlog_files": n_created - n_committed,
        "generator.late_ms": max(gen_thread.late_ms) if gen_thread.late_ms else 0.0,
        "capacity_eps": over_events / over_trig if over_trig else 0.0,
        "streaming.batches": len(progress),
    }
    if trace:
        pick = [b for b in batches.values() if "phases" in b]
        for k, name in (("analysis", "catalyst.analysis_ms"),
                        ("optimization", "catalyst.optimization_ms"),
                        ("planning", "catalyst.planning_ms")):
            layers[name] = statistics.median([b["phases"].get(k, 0.0) for b in pick]) if pick else 0.0
        layers["materialize.cached_bytes_peak"] = max(
            (b.get("cached_bytes", 0) for b in batches.values()), default=0
        )
        for key, name in (("addBatch", "streaming.add_batch_ms"),
                          ("queryPlanning", "streaming.query_planning_ms"),
                          ("walCommit", "streaming.wal_commit_ms"),
                          ("commitOffsets", "streaming.commit_offsets_ms"),
                          ("latestOffset", "streaming.latest_offset_ms")):
            vals = [p["durationMs"].get(key, 0) for p in progress if p.get("numInputRows")]
            layers[name] = float(statistics.median(vals)) if vals else 0.0
        trig_start = {p["batchId"]: _iso_s(p["timestamp"]) for p in progress}
        pickup = [
            (trig_start[file_batch[n]] - m["landed"]) * 1e3
            for n, m in gen_thread.files.items()
            if file_batch.get(n) in trig_start
        ]
        layers["sources.pickup_ms"] = statistics.median(pickup) if pickup else 0.0
    # backlog slope over the overload phase: files landed minus files listed
    backlog = []
    for bid, rec in sorted(batches.items()):
        if rec["start"] >= t_over:
            landed = sum(1 for m in gen_thread.files.values() if m["landed"] <= rec["start"])
            listed = sum(1 for n in gen_thread.files if file_batch.get(n, 1 << 30) <= bid)
            backlog.append((rec["start"] - t_over, landed - listed))
    slope = 0.0
    if len(backlog) >= 2:
        (x0, y0), (x1, y1) = backlog[0], backlog[-1]
        slope = (y1 - y0) / (x1 - x0) if x1 > x0 else 0.0
    return {
        "cold_s": cold["cold_s"],
        "cold_cpu_s": cold["cold_cpu_s"],
        "warm_s": statistics.median(steady_trig) if steady_trig else 0.0,
        "latency_p50_ms": statistics.median(lat) if lat else 0.0,
        "latency_tail_ms": tail_ms,
        "latency_tail_pct": pct,
        "latency_n": len(lat),
        "latency_limit_ms": 10000.0,
        "latency_within_limit": tail_ms <= 10000.0,
        "steady_batches": len(steady_trig),
        "steady_trigger_s": steady_trig,
        "trigger_s": {bid: trig_s(bid) for bid in sorted(batches)},
        "generator_late_ms_max": layers["generator.late_ms"],
        "valid": (layers["generator.late_ms"] <= LATE_BOUND_MS) and gen_thread.error is None,
        "generator_error": gen_thread.error,
        "backlog_slope_files_per_s": slope,
        "expected_rows": expected,
        "got_rows": got,
        "wrong_outputs": wrong,
        "errors": errors,
        "attempted": attempted,
        "failed": failed,
        "generator_elapsed_s": t_gen_end - gen_thread.t0,
        "layers": layers,
    }


def _iso_s(ts: str) -> float:
    import datetime as dt

    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


# ----------------------------------------------------------------- layers
def event_log_layers(run_root: str, workload: str, wall_s: float, cores: int) -> dict:
    groups = tracing.fold_event_log(os.path.join(run_root, "eventlog"))
    if workload == "warehouse":
        first = tracing.merge_groups(groups, lambda g: g.startswith("first:"))
        run = tracing.merge_groups(groups, lambda g: g.startswith("warm:"))
    else:
        first = tracing.merge_groups(groups, lambda g: g.startswith("batch:"))
        run = first
    return {
        "scheduler.jobs": first["jobs"],
        "scheduler.stages": len(first["stages"]),
        "scheduler.tasks": first["tasks"],
        "exec.run_s": run["run_ms"] / 1e3,
        "exec.cpu_s": run["cpu_ns"] / 1e9,
        "exec.gc_s": run["gc_ms"] / 1e3,
        "exec.slot_util": (run["run_ms"] / 1e3) / (wall_s * cores) if wall_s else 0.0,
        "exec.task_skew": tracing.task_skew(run),
        "shuffle.write_bytes": run["shuffle_write_bytes"],
        "shuffle.read_bytes": run["shuffle_read_bytes"],
        "shuffle.fetch_wait_s": run["fetch_wait_ms"] / 1e3,
        "exec.spill_bytes": run["spill_bytes"],
        "python.eval_s": tracing.python_eval_s(run),
        "_operators": tracing.operator_table(run),
    }


def _write_json(path: str, obj) -> None:
    """Write ``obj`` so that a reader polling for ``path`` sees it whole."""
    with open(path + ".tmp", "w") as f:
        json.dump(obj, f, default=str)
    os.replace(path + ".tmp", path)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=("probe", "workload"))
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--run-root", required=True)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--ready", required=True, help="write the set-up record here")
    ap.add_argument("--go", help="then wait for this file before measuring")
    ap.add_argument("--out")
    ap.add_argument("--inject-wrong-checksum", action="store_true")
    args = ap.parse_args()
    trace = bool(args.trace) and args.mode == "workload"
    spark, specs, setup_rec = setup(args.run_root, trace)
    _write_json(args.ready, setup_rec)
    if args.go is None:
        os._exit(0)  # run.py stops this process group's JVM
    while not os.path.exists(args.go):
        time.sleep(0.02)
    spans = tracing.Spans(run_id=f"{args.workload}-{args.seed}-{os.getpid()}")
    if args.mode == "probe":
        _write_json(args.out, log_stream_probe(spark, args, spans))
        os._exit(0)
    fn = {"warehouse": run_warehouse, "log_stream": run_log_stream}[args.workload]
    t0 = time.time()
    rec = fn(spark, specs, args, spans, trace)
    wall = time.time() - t0
    rec["setup"] = setup_rec
    rec["spans_self_s"] = spans.self_time_by_name()
    if trace:
        rec["spans"] = spans.with_self_time()
    rec["timeline"] = {"go": t0, "done": t0 + wall}
    if trace:
        spark.stop()  # flushes the event log
        busy = rec.get("warm_wall_s") or rec.get("generator_elapsed_s") or wall
        layers = event_log_layers(args.run_root, args.workload, busy, args.cores)
        rec["operators"] = layers.pop("_operators")
        rec["layers"].update(layers)
    _write_json(args.out, rec)
    os._exit(0)  # run.py stops this process group's JVM


if __name__ == "__main__":
    main()
