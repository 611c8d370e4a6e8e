"""What a freshly launched driver JVM gets from ``get_spark``.

``get_spark`` passes ``session.JIT_POLICY`` (C2 thresholds and the
compiler directives file) and, once it is built, the class-data archive
(``cds.py``) as ``spark.driver.defaultJavaOptions``.
The test session's JVM is already running, so each check launches its own
driver in a subprocess and reads the JVM's input arguments back through
py4j. The archive checks run against a private cache directory
(``XDG_CACHE_HOME``), never the user's.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
from pathlib import Path

import pytest

from gmall_flink_230422_spark import cds
from gmall_flink_230422_spark.session import JIT_DIRECTIVES, JIT_POLICY

ROOT = Path(__file__).resolve().parent.parent

PROBE = """
import json, sys
sys.path.insert(0, sys.argv[1])
from gmall_flink_230422_spark.session import get_spark

spark = get_spark("session-probe", master="local[1]", extra_conf=json.loads(sys.argv[2]))
jvm = spark._jvm
mf = jvm.java.lang.management.ManagementFactory
hotspot = mf.getPlatformMXBean(
    jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
rows = spark.range(30).selectExpr("id % 3 AS k").groupBy("k").count().orderBy("k").collect()
print(json.dumps({
    "args": list(mf.getRuntimeMXBean().getInputArguments()),
    "code_cache": int(hotspot.getVMOption("ReservedCodeCacheSize").getValue()),
    "rows": [list(r) for r in rows],
    "probe_conf": spark.conf.get("spark.graft.probe", None),
}))
spark.stop()
"""


def _probe(cwd: Path, extra_conf: dict | None = None, **env: str) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", PROBE, str(ROOT), json.dumps(extra_conf or {})],
        capture_output=True, text=True, timeout=180, cwd=cwd, env=dict(os.environ, **env),
    )
    assert out.returncode == 0, out.stderr[-2000:]
    rec = json.loads(out.stdout.strip().splitlines()[-1])
    assert rec["rows"] == [[0, 10], [1, 10], [2, 10]]
    return rec


def _archive_flags(args: list[str]) -> list[str]:
    return [a for a in args if a.startswith("-XX:SharedArchiveFile=")]


def test_driver_jvm_gets_jit_policy_and_caller_options(tmp_path):
    rec = _probe(tmp_path, {"spark.driver.extraJavaOptions": "-Dgraft.probe=1"})
    args = rec["args"]
    for flag in JIT_POLICY.split():
        assert flag in args
    # the caller's extraJavaOptions still apply, after the policy
    assert "-Dgraft.probe=1" in args
    assert args.index(JIT_POLICY.split()[-1]) < args.index("-Dgraft.probe=1")
    # C2 stays on: C1-only (TieredStopAtLevel=1) would shrink this to 48 MB
    assert rec["code_cache"] >= 240 * 2**20


def _hotspot_match(pattern: str, method: str) -> bool:
    """HotSpot's method-pattern match: ``pkg/Class.method``, with ``*``
    allowed only at either end of the class and of the method part."""
    def part(p: str, s: str) -> bool:
        if p == "*":
            return True
        if p.startswith("*") and p.endswith("*"):
            return p[1:-1] in s
        if p.startswith("*"):
            return s.endswith(p[1:])
        if p.endswith("*"):
            return s.startswith(p[:-1])
        return p == s

    pc, pm = pattern.rsplit(".", 1)
    mc, mm = method.rsplit(".", 1)
    return part(pc, mc) and part(pm, mm)


def test_directives_keep_c2_off_once_per_query_code_only():
    blocks = json.loads(JIT_DIRECTIVES.read_text())
    patterns = [p for b in blocks for p in b["match"]]
    for b in blocks:
        assert set(b) == {"match", "c2"}  # no c1 block: C1 compiles everything
        assert b["c2"] == {"Exclude": True}
    for p in patterns:
        c, m = p.rsplit(".", 1)
        assert "*" not in c[1:-1] and "*" not in m[1:-1], p
    listed = ["org/codehaus/janino/UnitCompiler.compile2",
              "org/apache/xbean/asm9/ClassReader.readCode",
              "org/antlr/v4/runtime/atn/ParserATNSimulator.adaptivePredict"]
    data_path = ["com/fasterxml/jackson/core/json/UTF8StreamJsonParser.nextToken",
                 "org/apache/parquet/column/impl/ColumnReaderBase.readValue",
                 "org/apache/spark/unsafe/types/UTF8String.hashCode",
                 "org/apache/spark/sql/catalyst/expressions/"
                 "GeneratedClass$GeneratedIteratorForCodegenStage1.processNext",
                 "org/apache/spark/sql/catalyst/expressions/"
                 "GeneratedClass$SpecificUnsafeProjection.apply"]
    for m in listed:
        assert any(_hotspot_match(p, m) for p in patterns), m
    for m in data_path:
        assert not any(_hotspot_match(p, m) for p in patterns), m


@pytest.fixture(scope="module")
def built_cache(tmp_path_factory):
    """Two builds started at once into an empty cache, with the archive
    path watched for partial files while they run."""
    xdg = tmp_path_factory.mktemp("xdg")
    cache = xdg / "gmall-spark"
    env = dict(os.environ, XDG_CACHE_HOME=str(xdg), PYTHONPATH=str(ROOT))
    seen: set[tuple[str, int]] = set()
    done = threading.Event()

    def watch():
        while not done.wait(0.02):
            for p in cache.glob("driver-*.jsa"):
                try:
                    seen.add((p.name, p.stat().st_size))
                except FileNotFoundError:
                    pass

    watcher = threading.Thread(target=watch)
    watcher.start()
    try:
        procs = [subprocess.Popen([sys.executable, "-m", "gmall_flink_230422_spark.cds"],
                                  cwd=xdg, env=env, stdout=subprocess.PIPE,
                                  stderr=subprocess.STDOUT, text=True)
                 for _ in range(2)]
        outs = [p.communicate(timeout=cds.TRAIN_TIMEOUT_S)[0] for p in procs]
    finally:
        done.set()
        watcher.join()
    return {"xdg": xdg, "cache": cache, "outs": outs, "codes": [p.returncode for p in procs],
            "seen": seen}


def test_concurrent_builds_publish_one_whole_archive(built_cache):
    assert built_cache["codes"] == [0, 0], built_cache["outs"]
    # one build trained, the other waited on the lock and found its archive
    assert sum(o.count("built ") for o in built_cache["outs"]) == 1, built_cache["outs"]
    archives = list(built_cache["cache"].glob("driver-*"))
    assert [a.suffix for a in archives] == [".jsa"]
    assert not list(built_cache["cache"].glob("train-*"))
    # the path only ever held the finished file
    assert built_cache["seen"] == {(archives[0].name, archives[0].stat().st_size)}


def test_fresh_driver_loads_spark_classes_from_archive(built_cache, tmp_path):
    log = tmp_path / "class-load.log"
    rec = _probe(tmp_path, {"spark.driver.extraJavaOptions": f"-Xlog:class+load:file={log}"},
                 XDG_CACHE_HOME=str(built_cache["xdg"]))
    (archive,) = built_cache["cache"].glob("driver-*.jsa")
    assert _archive_flags(rec["args"]) == [f"-XX:SharedArchiveFile={archive}"]
    # named classes only: JDK 17 never archives the lambda proxies of
    # serializable (Scala) lambdas, which it spins as hidden classes
    spark = [ln for ln in log.read_text().splitlines()
             if "] org.apache.spark." in ln and "$$Lambda$" not in ln]
    shared = [ln for ln in spark if "source: shared objects file" in ln]
    assert len(spark) > 1000
    assert len(shared) >= 0.9 * len(spark), (len(shared), len(spark))


def _assert_falls_back(tmp_path: Path, archive: Path, java_options: str = "", **env: str):
    """A driver offered an archive it cannot use still answers correctly
    (``_probe`` checks the rows) and loads no class from it."""
    log = tmp_path / "class-load.log"
    rec = _probe(tmp_path, {"spark.driver.extraJavaOptions":
                            f"-Xlog:class+load:file={log} {java_options}"}, **env)
    assert _archive_flags(rec["args"]) == [f"-XX:SharedArchiveFile={archive}"]
    assert "shared objects file (top)" not in log.read_text()


def test_garbage_archive_falls_back(tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    path = cds.archive_path(cds.key())
    path.parent.mkdir(parents=True)
    path.write_bytes(os.urandom(4096))
    _assert_falls_back(tmp_path, path)


def test_archive_of_another_heap_mode_falls_back(built_cache, tmp_path):
    # dumped with compressed oops (an 8 GB heap); this driver runs without
    (archive,) = built_cache["cache"].glob("driver-*.jsa")
    _assert_falls_back(tmp_path, archive, "-XX:-UseCompressedOops",
                       XDG_CACHE_HOME=str(built_cache["xdg"]))


def test_real_conf_dir_gets_no_archive(built_cache, tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.graft.probe  from-conf-dir\n")
    rec = _probe(tmp_path, SPARK_CONF_DIR=str(conf), XDG_CACHE_HOME=str(built_cache["xdg"]))
    assert _archive_flags(rec["args"]) == []
    assert rec["probe_conf"] == "from-conf-dir"


def test_callers_java_options_turn_off_archive_and_builder(tmp_path):
    xdg = tmp_path / "xdg"
    rec = _probe(tmp_path, {"spark.driver.defaultJavaOptions": "-Dgraft.own=1"},
                 XDG_CACHE_HOME=str(xdg))
    assert "-Dgraft.own=1" in rec["args"]
    assert _archive_flags(rec["args"]) == []
    assert not [a for a in rec["args"] if a in JIT_POLICY.split()]
    assert not list(xdg.glob("gmall-spark/driver-*"))
    assert not (xdg / "gmall-spark" / "build.lock").exists()


def test_failed_build_leaves_marker_and_stops_respawns(tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    env = dict(os.environ, PYTHONPATH=str(ROOT), SPARK_GRAFT_DRIVER_MEM="no-such-size")
    out = subprocess.run([sys.executable, "-m", "gmall_flink_230422_spark.cds"],
                         capture_output=True, text=True, timeout=300, cwd=tmp_path, env=env)
    assert out.returncode == 1
    marker = cds.archive_path(cds.key()).with_suffix(".failed")
    assert "no-such-size" in marker.read_text()
    spawned = []
    monkeypatch.setattr(cds, "_spawn", lambda: spawned.append(1))
    assert cds.driver_archive() is None and not spawned
    marker.unlink()
    assert cds.driver_archive() is None and spawned == [1]
