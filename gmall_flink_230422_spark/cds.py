"""Driver class-data archive: a JDK dynamic AppCDS archive of Spark's classes.

    python -m gmall_flink_230422_spark.cds      # build it now and wait

A fresh driver JVM spends most of its start-up loading, parsing and
verifying classes from Spark's jars. The archive holds those classes
already parsed and verified, and the JVM maps it at start-up instead
(``-XX:SharedArchiveFile``, added by ``session.get_spark``). It lives in
``${XDG_CACHE_HOME:-~/.cache}/gmall-spark/`` and its name carries a hash
of the ``java`` binary (real path, mtime), the Spark ``jars/`` listing
(name, size, mtime) and this file's source, so a new JDK, a changed jar
or a new training session makes a new archive.

The builder runs one generic training session (``_train``: synthetic
frames, no fixture files) under ``-XX:ArchiveClassesAtExit`` and
publishes the dump with ``os.replace``, so the archive path never holds a
partial file. Builds are single-flight under an ``flock``. A failed build
leaves a ``.failed`` marker with the tail of its stderr, and
``get_spark`` starts no background build while it exists; deleting the
marker, or building with the command above, tries again.

JDK 17 neither dumps nor maps an archive when the application classpath
holds a non-empty directory, and Spark puts its conf dir first on it. So
the archive is used only while ``SPARK_CONF_DIR`` is unset and Spark's
default conf dir holds nothing but ``*.template`` files; ``get_spark`` then
points ``SPARK_CONF_DIR`` at an empty directory next to the archive
(``conf_dir``).
"""

from __future__ import annotations

import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

STDERR_TAIL = 4000  # bytes of a failed training's stderr kept in its marker
TRAIN_TIMEOUT_S = 900


def cache_dir() -> Path:
    return Path(os.environ.get("XDG_CACHE_HOME") or Path.home() / ".cache") / "gmall-spark"


def _spark_home() -> Path:
    from pyspark.find_spark_home import _find_spark_home

    return Path(_find_spark_home())


def conf_dir() -> str | None:
    """The empty directory for ``SPARK_CONF_DIR``, or None when the
    caller's Spark configuration must stand (and no archive is used)."""
    if "SPARK_CONF_DIR" in os.environ:
        return None
    default = _spark_home() / "conf"
    if default.is_dir() and any(not p.name.endswith(".template") for p in default.iterdir()):
        return None
    d = cache_dir() / "conf"
    try:
        d.mkdir(parents=True, exist_ok=True)
    except OSError:  # no writable cache: run without an archive
        return None
    return str(d)


def key() -> str | None:
    """Hash of the JDK, Spark's jars and this builder; None without a JDK."""
    java_home = os.environ.get("JAVA_HOME")  # the java that spark-class runs
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java or not os.path.exists(java):
        return None
    java = os.path.realpath(java)
    h = hashlib.sha256(f"{java} {os.stat(java).st_mtime_ns}\n".encode())
    for e in sorted(os.scandir(_spark_home() / "jars"), key=lambda e: e.name):
        st = e.stat()
        h.update(f"{e.name} {st.st_size} {st.st_mtime_ns}\n".encode())
    h.update(Path(__file__).read_bytes())
    return h.hexdigest()[:16]


def archive_path(k: str) -> Path:
    return cache_dir() / f"driver-{k}.jsa"


def driver_archive() -> Path | None:
    """The archive for this JDK and Spark install, if it is built. If it is
    not, start a background build (unless one failed) and return None."""
    k = key()
    if k is None:
        return None
    path = archive_path(k)
    if path.exists():
        return path
    if not path.with_suffix(".failed").exists():
        _spawn()
    return None


def _idle() -> None:
    try:
        os.sched_setscheduler(0, os.SCHED_IDLE, os.sched_param(0))
    except (AttributeError, OSError):
        os.nice(19)


def _command(*args: str, **env: str) -> dict:
    """Popen arguments that run this module with ``args`` and ``env`` added
    to the environment, whatever the caller's ``sys.path``."""
    root = str(Path(__file__).resolve().parent.parent)
    path = os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))
    return {"args": [sys.executable, "-m", __spec__.name, *args],
            "env": dict(os.environ, PYTHONPATH=path, **env)}


def _spawn() -> None:
    """Start ``build(wait=False)`` detached, at idle CPU priority."""
    cache_dir().mkdir(parents=True, exist_ok=True)
    subprocess.Popen(
        **_command("--background"), cwd=cache_dir(), start_new_session=True, preexec_fn=_idle,
        stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )


def build(wait: bool = True) -> Path | None:
    """Build the archive unless it exists; return its path, or None if the
    build failed or no archive can be used (or, with ``wait=False``,
    another build holds the lock or a ``.failed`` marker exists)."""
    if conf_dir() is None:
        return None
    cache = cache_dir()
    cache.mkdir(parents=True, exist_ok=True)
    with open(cache / "build.lock", "w") as lock:
        try:
            fcntl.flock(lock, fcntl.LOCK_EX | (0 if wait else fcntl.LOCK_NB))
        except BlockingIOError:
            return None
        k = key()
        if k is None:
            return None
        path = archive_path(k)
        failed = path.with_suffix(".failed")
        if path.exists():
            return path
        if not wait and failed.exists():
            return None
        for stale in cache.glob("train-*"):  # left by a killed build
            shutil.rmtree(stale, ignore_errors=True)
        work = tempfile.mkdtemp(prefix="train-", dir=cache)
        tmp = Path(work, path.name)
        try:
            with open(Path(work, "stderr"), "w+b") as err:
                try:
                    rc = subprocess.run(
                        **_command("--train", str(tmp), TMPDIR=work, SPARK_LOCAL_DIRS=work),
                        cwd=work, stdin=subprocess.DEVNULL, stdout=err, stderr=err,
                        timeout=TRAIN_TIMEOUT_S,
                    ).returncode
                except subprocess.TimeoutExpired:
                    rc = "timeout"
                if rc != 0 or not tmp.exists() or tmp.stat().st_size == 0:
                    err.seek(max(0, err.tell() - STDERR_TAIL))
                    failed.write_bytes(f"training exit {rc}\n".encode() + err.read())
                    return None
            os.replace(tmp, path)
            print(f"built {path}", flush=True)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        for old in cache.glob("driver-*"):
            if old != path:
                old.unlink(missing_ok=True)
        return path


def _train(out: str) -> None:
    """One generic session whose classes the JVM dumps to ``out`` at exit:
    the DataFrame operators, sources and sinks the engine's plans use, on
    synthetic frames."""
    import pandas as pd
    from pyspark import SparkContext
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from .session import JIT_POLICY, get_spark

    work = os.getcwd()
    spark = get_spark("gmall-cds-train", extra_conf={
        "spark.driver.defaultJavaOptions": f"{JIT_POLICY} -XX:ArchiveClassesAtExit={out}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    orders = spark.range(4000).select(
        F.col("id").alias("order_id"),
        (F.col("id") % 97).alias("user_id"),
        (F.col("id") % 13 * 1.25).cast("decimal(10,2)").alias("amount"),
        F.timestamp_seconds(F.lit(1_650_000_000) + F.col("id") * 7).alias("ts"),
        F.to_json(F.struct(F.array(F.lit("a"), (F.col("id") % 5).cast("string")).alias("tags"),
                           F.col("id").alias("n"))).alias("js"),
    )
    users = spark.createDataFrame(
        pd.DataFrame({"user_id": range(97), "name": [f"u{i:02d}" for i in range(97)]}))
    joined = orders.join(users, "user_id")
    joined.groupBy("name").agg(
        F.sum("amount").alias("gmv"), F.count("*").alias("n"),
        F.countDistinct("order_id").alias("orders"), F.max("ts"),
    ).orderBy(F.desc("gmv")).collect()
    w = Window.partitionBy("user_id").orderBy("ts")
    orders.select(
        "order_id", F.row_number().over(w).alias("rn"), F.lag("amount").over(w).alias("prev"),
        F.sum("amount").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("run"),
    ).where("rn <= 3").collect()
    tags = orders.select(
        "order_id", F.from_json("js", "tags array<string>, n bigint").alias("j"),
    ).select("order_id", F.explode("j.tags").alias("tag"))
    tags.groupBy("tag").count().collect()
    orders.groupBy(F.window("ts", "10 minutes")).agg(F.avg("amount")).collect()
    spark.sql("SELECT user_id, percentile_approx(amount, 0.5) FROM {t} GROUP BY user_id",
              t=orders).collect()
    pq = os.path.join(work, "orders.parquet")
    joined.write.mode("overwrite").partitionBy("user_id").parquet(pq)
    spark.read.parquet(pq).where("user_id < 10").dropDuplicates(["order_id"]).count()
    joined.write.format("noop").mode("overwrite").save()
    orders.groupBy("user_id").applyInPandas(
        lambda pdf: pdf.assign(amount=pdf["amount"].cumsum())[["order_id", "amount"]],
        "order_id long, amount decimal(20,2)",
    ).toPandas()

    src, sink = os.path.join(work, "src"), os.path.join(work, "sink")
    os.makedirs(src)
    for i in range(3):
        with open(os.path.join(src, f"part-{i}.json"), "w") as f:
            f.writelines(f'{{"mid": "m{j % 7}", "ts": {1_650_000_000_000 + j}}}\n'
                         for j in range(i * 100, i * 100 + 100))
    parsed = spark.readStream.format("text").load(src).select(
        F.from_json("value", "mid string, ts bigint").alias("e")).select("e.*")
    parsed.writeStream.foreachBatch(
        lambda df, bid: df.dropDuplicates(["mid", "ts"]).write.mode("append").parquet(sink)
    ).option("checkpointLocation", os.path.join(work, "ckpt")) \
        .trigger(availableNow=True).start().awaitTermination()
    spark.read.parquet(sink).count()

    # the JVM writes the archive only when it exits normally
    spark.stop()
    proc = SparkContext._gateway.proc
    proc.stdin.close()
    if proc.wait(timeout=TRAIN_TIMEOUT_S) != 0:
        sys.exit(f"driver JVM exited with {proc.returncode}")


def main(argv: list[str]) -> int:
    if argv[:1] == ["--train"]:
        _train(argv[1])
        return 0
    t0 = time.time()
    path = build(wait=argv[:1] != ["--background"])
    if path is None:
        k = key()
        marker = archive_path(k).with_suffix(".failed") if k else None
        if conf_dir() is None:
            print("no archive: SPARK_CONF_DIR is set or Spark's conf dir holds configuration")
        else:
            print(f"no archive built; see {marker}" if marker and marker.exists() else
                  "no archive built")
        return 1
    print(f"{path} ({path.stat().st_size / 2**20:.0f} MB, {time.time() - t0:.1f} s)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
