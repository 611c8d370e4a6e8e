"""SparkSession factory.

The reference pins every app to parallelism 1 on a single TaskManager
(e.g. /root/reference/gmall-realtime/src/main/java/com/sqs/app/dim/DimApp.java:122).
We instead size for a real cluster: AQE on (runtime re-plan + skew-join
handling), Arrow for any pandas exchange, and shuffle partitions sized from
the environment. Session timezone defaults to UTC so results are directly
comparable with the DuckDB oracle.

Driver JIT policy. A fresh driver spends about half of its first-query CPU
in the JIT compiler threads, and C2 (the optimizing tier) takes most of
that compiling code that runs once per query rather than the data path:
ASM class spinning (JDK lambda forms, ClosureCleaner), the ANTLR parser,
Janino, Jackson and task deserialization. ``get_spark`` therefore puts
``JIT_POLICY`` into ``spark.driver.defaultJavaOptions``. It raises only
the tier-4 (C2) invocation and compile thresholds; C1 and the tier-4
back-edge (OSR) threshold keep their defaults, so hot data-path loops and
methods still reach C2, later. The launcher puts ``defaultJavaOptions``
ahead of ``spark.driver.extraJavaOptions``, so a caller's extra options
still apply, and a caller's own ``defaultJavaOptions`` in ``extra_conf``
replaces the policy. The options only take effect when ``getOrCreate``
launches a new driver JVM.

C1 only (``-XX:TieredStopAtLevel=1``) was rejected: it halves the cold
CPU but never optimizes the data path, so executor CPU of a streaming run
about doubled and its latency tail passed the 10 s limit. The other
settings tried and the measurements are in BENCHNOTES.md, "Driver JIT
policy".

C2 off once-per-query libraries. The policy also names a HotSpot compiler
directives file, ``jit_directives.json`` beside this module
(``-XX:CompilerDirectivesFile``, a diagnostic flag on JDK 17, hence
``-XX:+UnlockDiagnosticVMOptions``). It excludes from C2 only, never C1,
the methods of libraries that run once per query, plan or closure and
never per row:

- Janino (``org/codehaus/janino``, ``org/codehaus/commons``), which
  compiles the generated code;
- the shaded ASM of Spark's ClosureCleaner (``org/apache/xbean``);
- the ANTLR runtime of the SQL parser (``org/antlr/v4``);
- the JDK's own ASM (``jdk/internal/org/objectweb``), which spins lambda
  forms.

When such a method reaches the tier-4 threshold, C2 refuses it and the
tiered policy recompiles it at tier 1 (C1 without profiling), so it pays
neither C2 compile time nor tier-3 profiling from then on. The classes
Janino generates, ``unsafe``, Parquet and Jackson still reach C2. Jackson
is not listed because ``from_json``/``to_json`` run it per row: with it
in the list, one log_stream run's capacity fell to about 1.1k events/s,
against 4-5k. The
directives file prints one line when the JVM loads it, so
``-XX:+DisplayVMOutputToStderr`` sends the VM's own output to stderr and
leaves the driver's stdout to the application. Measurements:
BENCHNOTES.md, "C2 off once-per-query libraries".

Driver class-data archive. Most of a fresh driver's start-up is loading,
parsing and verifying classes from Spark's jars. ``cds.py`` builds a JDK
dynamic AppCDS archive of them once per JDK and Spark install, into
``${XDG_CACHE_HOME:-~/.cache}/gmall-spark/driver-<key>.jsa``; the key
hashes the ``java`` binary (real path, mtime), the Spark ``jars/``
listing (name, size, mtime) and the source of ``cds.py``. When the
archive exists, ``get_spark`` adds ``-XX:SharedArchiveFile=<archive>`` to
the policy and the JVM maps the classes instead of loading them. When it
is missing, the session starts as before and ``get_spark`` starts the
builder detached, at idle CPU priority; ``python -m
gmall_flink_230422_spark.cds`` builds it in the foreground.

- Conf dir: JDK 17 uses no archive while the classpath holds a non-empty
  directory, and Spark puts its conf dir first on it. ``get_spark``
  therefore points ``SPARK_CONF_DIR`` at an empty directory beside the
  archive, but only while ``SPARK_CONF_DIR`` is unset and Spark's default
  conf dir holds nothing but ``*.template`` files. A real conf file means
  no archive and no builder.
- Fallback: on a mismatch (another JDK, changed jars, another heap mode,
  a damaged file) the JVM silently runs without the archive.
- Opt-out: a caller's own ``spark.driver.defaultJavaOptions`` replaces
  the policy (with its directives file) and the archive, and starts no
  builder. A failed build leaves ``driver-<key>.failed`` (its stderr
  tail) and stops background builds until it is deleted.

Measurements: BENCHNOTES.md, "Driver class-data archive".
"""

from __future__ import annotations

import os
import shlex
from pathlib import Path

from pyspark import SparkContext
from pyspark.sql import SparkSession

from . import cds


JIT_DIRECTIVES = Path(__file__).with_name("jit_directives.json")

JIT_POLICY = (
    "-XX:Tier4InvocationThreshold=50000 "
    "-XX:Tier4MinInvocationThreshold=6000 "
    "-XX:Tier4CompileThreshold=150000 "
    "-XX:+UnlockDiagnosticVMOptions "
    "-XX:+DisplayVMOutputToStderr "
    f"-XX:CompilerDirectivesFile={shlex.quote(str(JIT_DIRECTIVES))}"
)


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "gmall-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    tz: str = "UTC",
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession configured for this engine.

    Scale notes (100 TB design intent):
      - AQE enabled: coalesces post-shuffle partitions, converts to broadcast
        joins at runtime, splits skewed partitions (skew-join) — replaces the
        reference's hand-set parallelism.
      - ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; on a
        real cluster set it ~2-3x total cores, AQE coalesces the rest.
      - Arrow enabled so any pandas UDF exchange is columnar-batched.
      - The driver JVM starts with ``JIT_POLICY`` (C2 thresholds and the
        compiler directives file) and, once it is built, the class-data
        archive (module docstring).
    """
    cpus = default_parallelism()
    extra_conf = extra_conf or {}
    # the archive and conf dir only matter to a driver JVM launched here
    conf_dir = cds.conf_dir() if SparkContext._gateway is None else None
    java_options = JIT_POLICY
    if conf_dir and "spark.driver.defaultJavaOptions" not in extra_conf:
        archive = cds.driver_archive()
        if archive:
            java_options += f" -XX:SharedArchiveFile={archive}"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", tz)
        # The fixture tiers store TIMESTAMP(MICROS) (read as timestamp_ntz);
        # parquet TIMESTAMP(NANOS), which Spark otherwise rejects, is read as
        # a long and converted in io.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.defaultJavaOptions", java_options)
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    if not conf_dir:
        return builder.getOrCreate()
    os.environ["SPARK_CONF_DIR"] = conf_dir  # read by the launcher only
    try:
        return builder.getOrCreate()
    finally:
        del os.environ["SPARK_CONF_DIR"]
