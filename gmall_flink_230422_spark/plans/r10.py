"""Round-10 extension queries: the PERSISTED-INDEX ANN contract.

Until now every ANN query (x_ann_ivf, x_ann_ivf_lloyd, s_stream_ann_probe)
rebuilt its IVF index inside the query — fine for oracle checking, wrong
as the production shape: at 100 TB the index is built ONCE at write time
and probed by every later session (r9 verdict item 7). These queries add
that contract:

- ``ensure_ivf_index`` writes the inverted lists as a parquet dataset
  PARTITIONED BY list_id (probes partition-prune at the scan) plus a
  tiny centroid dataset, under a warehouse root keyed by the sf tag —
  and is build-IF-ABSENT: when the fingerprint-addressed artifact
  directory (algorithm version + params + corpus footer stats) already
  exists, the build is skipped entirely, so a fresh session probing the
  same corpus pays zero index cost (not even a corpus count job). The
  artifacts are PATH-addressed (exactly the files a catalog table
  manages underneath) rather than catalog-registered because the driver
  harness builds bare in-memory-catalog sessions whose catalog dies with
  the JVM — the parquet layout is what actually outlives sessions, and
  the cross-JVM property is proven by tests/test_persisted_ann.py, which
  builds in one subprocess and probes, rebuild-free, from another. On a
  metastore-backed cluster the same layout is one ``saveAsTable`` away.
- ``x_ann_ivf_persisted`` probes the persisted index and must equal
  x_ann_ivf bit-for-bit (same ORACLE_ANN_IVF oracle): parquet round-trips
  of float arrays are exact, so index-through-storage cannot move a
  score.
- ``s_stream_ann_ivf_persisted`` is the serving twin: micro-batched
  queries probe the SAME catalog index from checkpointed foreachBatch —
  the index is a standing artifact shared by batch and streaming readers,
  not per-query scratch (contrast s_stream_ann_probe, which demonstrates
  the probe path with per-invocation temp dirs).

Reference parity note: the reference engine has no vector index; this is
part of the LLM-data-pipeline extension surface (SURVEY.md §2-extension),
designed Spark-first: write-time partitioning + dynamic partition pruning
instead of a server-side index structure.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import functions as F

from ..io import read_parquet, scratch_dir
from ..operators import similarity
from . import QuerySpec
from .llm import ORACLE_ANN_IVF, _QUERY_IDS, _embs_par

SPECS: list[QuerySpec] = []

# Path-addressed warehouse for persisted indexes (gitignored; overridable so
# tests can isolate). The layout under it is exactly what a catalog table
# would manage: <root>/ann_ivf_index_<tag>/list_id=<N>/part-*.parquet.
_WAREHOUSE_ENV = "SPARK_GRAFT_INDEX_DIR"


def _warehouse_root() -> Path:
    env = os.environ.get(_WAREHOUSE_ENV)
    if env:
        return Path(env)
    return Path(__file__).resolve().parents[2] / "spark-warehouse"


def _sf_tag(sf_dir: str) -> str:
    """Corpus-location tag for warehouse paths: basename for readability
    PLUS an 8-hex digest of the normalized absolute path, so two distinct
    corpora whose directories share a basename (regenerated testdata in
    another tree) can never alias to one persisted artifact (r10 advisor
    find)."""
    import hashlib

    norm = os.path.normpath(os.path.abspath(sf_dir))
    base = os.path.basename(norm)
    safe = "".join(c if c.isalnum() else "_" for c in base)
    return f"{safe}_{hashlib.md5(norm.encode()).hexdigest()[:8]}"


# Bump when the index ALGORITHM changes (score truncation grid, assignment
# tiebreak, storage layout): the fingerprint folds this in, so old persisted
# artifacts are rebuilt instead of silently served to new-code probes (r10
# review finding: a count-only gate cannot see code changes).
_IVF_INDEX_VERSION = 1


def corpus_token(sf_dir: str, table: str) -> str:
    """Footer-stats freshness token of one fixture table — the corpus leg
    of every standing-artifact fingerprint. It reads only parquet footers
    (io.dataset_fingerprint), never the rows: at 100 TB a freshness check
    that scans the corpus per probing session is the wrong cost shape."""
    from ..io import dataset_fingerprint

    return dataset_fingerprint(os.path.join(sf_dir, f"{table}.parquet"))


def ensure_ivf_index(spark, sf_dir, n_centroids: int = 16) -> tuple[str, str]:
    """Build-if-absent persisted IVF index via io.ensure_dataset; returns
    (index_path, centroids_path) — the ``index`` and ``cents`` companion
    datasets inside ONE immutable fingerprint-addressed artifact directory
    ``ann_ivf_<tag>/fp=<version_params_corpusstats>/``.

    Freshness gate: the fingerprint folds the algorithm version, the
    build parameter, and the corpus FOOTER stats (corpus_token — no
    full-corpus job in the probe path); any of the three moving addresses
    a new directory, so stale artifacts are never served. Both datasets
    live inside the one atomically-published directory, so a gate-passing
    index cannot be missing its centroids (r10 advisor find), publication
    is build-to-staging + atomic rename (r10 verdict item 2 — concurrent
    ensure calls race safely, losers discard), and a crashed build leaves
    only unaddressed staging debris. The index dataset is partitioned by
    ``list_id``: a probe that joins on the partition column prunes every
    unprobed list at the scan, which is the entire 100 TB read-path win
    (touch n_probe/n_centroids of the data).
    """
    from ..io import ensure_dataset

    base = str(_warehouse_root() / f"ann_ivf_{_sf_tag(sf_dir)}")
    e = _embs_par(spark, sf_dir)

    def _build(staging: str) -> None:
        cents_s = os.path.join(staging, "cents")
        cents = similarity.ivf_centroids(e, n_centroids=n_centroids)
        cents.write.parquet(cents_s)
        # assign against the read-back centroids so the persisted artifacts
        # are self-consistent even if frame and files ever diverge
        (
            similarity.ivf_assign(e, read_parquet(spark, cents_s))
            .write.partitionBy("list_id")
            .parquet(os.path.join(staging, "index"))
        )

    art = ensure_dataset(
        base,
        f"v{_IVF_INDEX_VERSION}-c{n_centroids}-{corpus_token(sf_dir, 'embeddings')}",
        _build,
    )
    return os.path.join(art, "index"), os.path.join(art, "cents")


def _read_index(spark, index_p: str):
    # the partition column comes back type-inferred (int) — restore the
    # bigint the join/oracle contract expects
    return read_parquet(spark, index_p).withColumn(
        "list_id", F.col("list_id").cast("bigint")
    )


def q_ann_ivf_persisted(spark, sf_dir):
    """IVF probe against the PERSISTED index (build-if-absent): identical
    semantics and oracle as x_ann_ivf — the equality is the
    storage-round-trip guarantee. The probe itself reads only the
    partition-pruned lists: the broadcast probe join on the partition
    column list_id."""
    index_p, cents_p = ensure_ivf_index(spark, sf_dir)
    q = _embs_par(spark, sf_dir).filter(F.col("vec_id").isin(*_QUERY_IDS))
    return similarity.ivf_probe_topk(
        _read_index(spark, index_p), read_parquet(spark, cents_p), q, k=10, n_probe=4
    )


def q_stream_ann_ivf_persisted(spark, sf_dir):
    """ANN serving against the SHARED persisted index: a query stream
    (vec_id % 100 == 1 — disjoint from s_stream_ann_probe's % 100 == 0
    set) arrives in micro-batches; each checkpointed batch probes the
    persisted datasets ensure_ivf_index guarantees exist. Per-query
    results are batch-boundary-invariant, so the batch IVF oracle applies
    with the same predicate."""
    from ..sources import files
    from ..streaming.drain import drain

    index_p, cents_p = ensure_ivf_index(spark, sf_dir)
    e = _embs_par(spark, sf_dir)
    stream = files.replay(e.filter(F.col("vec_id") % 100 == 1))

    def _probe(batch, _i: int):
        s = batch.sparkSession
        return similarity.ivf_probe_topk(
            _read_index(s, index_p), read_parquet(s, cents_p), batch, k=10, n_probe=4
        )

    return drain(stream, _probe)


ORACLE_STREAM_ANN_IVF_PERSISTED = ORACLE_ANN_IVF.replace(
    f"WHERE q.vec_id IN {_QUERY_IDS}", "WHERE q.vec_id % 100 = 1"
)
assert ORACLE_STREAM_ANN_IVF_PERSISTED != ORACLE_ANN_IVF, "predicate splice failed"


# ------------------------------------------------------ index health stats
def q_ann_index_stats(spark, sf_dir):
    """Index-health audit of the PERSISTED IVF index: per-list vector
    count and milli fraction of the corpus. The operational dashboard a
    100 TB index owner reads before trusting probe latency: one hot list
    (frac → 1000) means the centroids collapsed and every probe scans
    the corpus; many empty lists mean wasted partitions. Reads only the
    index's list_id column — a partition-column-only scan, no vector
    bytes move."""
    index_p, _cents_p = ensure_ivf_index(spark, sf_dir)
    idx = _read_index(spark, index_p)
    per = idx.groupBy("list_id").agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"))
    tot = per.agg(F.sum("n_vecs").cast("bigint").alias("n_tot"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "list_id",
            "n_vecs",
            F.expr("n_vecs * 1000 div n_tot").cast("bigint").alias("frac_milli"),
        )
        .orderBy("list_id")
    )


ORACLE_ANN_INDEX_STATS = """
WITH cents AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
  FROM embeddings ORDER BY vec_id LIMIT 16
),
assigned AS (
  SELECT vec_id, cid AS list_id FROM (
    SELECT c.vec_id, cents.cid,
           row_number() OVER (
             PARTITION BY c.vec_id
             ORDER BY floor((list_cosine_similarity(c.embedding::DOUBLE[], cents.cvec)) * 1000000) / 1000000 DESC,
                      cents.cid) AS rk
    FROM embeddings c CROSS JOIN cents
  ) WHERE rk = 1
),
per AS (SELECT list_id, count(*)::BIGINT AS n_vecs FROM assigned GROUP BY list_id),
t AS (SELECT sum(n_vecs)::BIGINT AS n_tot FROM per)
SELECT list_id, n_vecs, (n_vecs * 1000 // n_tot)::BIGINT AS frac_milli
FROM per CROSS JOIN t ORDER BY list_id
"""


# -------------------------------------------------- streaming index upsert
def q_stream_ann_index_upsert(spark, sf_dir):
    """INCREMENTAL INDEX MAINTENANCE — the production shape after the
    persisted contract: the index is built once over the standing corpus
    (vec_id % 10 != 7), then NEW vectors stream in and each checkpointed
    micro-batch assigns them to the FIXED centroids and lands them as an
    idempotent per-batch delta (overwrite of delta/ingest_batch=<id> —
    replay-safe, the repo's exactly-once file-sink pattern). The final
    index = base ∪ deltas; at 100 TB a compactor folds deltas into the
    list_id partitions on a schedule, probes read both sides until then.

    Centroids are intentionally NOT retrained on arrival (assignment must
    be immutable for the delta to be append-only); the oracle therefore
    trains on the base slice but assigns the FULL corpus. Result: the
    per-list census of the final index — equal to a from-scratch batch
    build with the same centroids, which is the correctness statement of
    incremental maintenance."""
    from ..sources import files
    from ..streaming.drain import drain

    e = _embs_par(spark, sf_dir)
    base = e.filter(F.col("vec_id") % 10 != 7)
    fresh = e.filter(F.col("vec_id") % 10 == 7)
    tmp = scratch_dir("streamq_annupsert_")
    cents_p = os.path.join(tmp, "cents")
    base_p = os.path.join(tmp, "base")
    delta_p = os.path.join(tmp, "delta")

    similarity.ivf_centroids(base, n_centroids=16).write.parquet(cents_p)
    cents = read_parquet(spark, cents_p)
    (
        similarity.ivf_assign(base, cents)
        .write.partitionBy("list_id")
        .parquet(base_p)
    )

    stream = files.replay(fresh)

    def _ingest(batch, batch_id: int) -> None:
        s = batch.sparkSession
        out = similarity.ivf_assign(batch, read_parquet(s, cents_p))
        out.write.mode("overwrite").partitionBy("list_id").parquet(
            os.path.join(delta_p, f"ingest_batch={batch_id}")
        )

    drain(stream, _ingest)

    # hive-style discovery reads both partition levels (ingest_batch, list_id)
    full = read_parquet(spark, base_p).select("vec_id", "list_id").unionByName(
        read_parquet(spark, delta_p).select("vec_id", "list_id")
    )
    return (
        full.groupBy(F.col("list_id").cast("bigint").alias("list_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"))
        .orderBy("list_id")
    )


ORACLE_STREAM_ANN_INDEX_UPSERT = """
WITH cents AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
  FROM embeddings WHERE vec_id % 10 <> 7 ORDER BY vec_id LIMIT 16
),
assigned AS (
  SELECT vec_id, cid AS list_id FROM (
    SELECT c.vec_id, cents.cid,
           row_number() OVER (
             PARTITION BY c.vec_id
             ORDER BY floor((list_cosine_similarity(c.embedding::DOUBLE[], cents.cvec)) * 1000000) / 1000000 DESC,
                      cents.cid) AS rk
    FROM embeddings c CROSS JOIN cents
  ) WHERE rk = 1
)
SELECT list_id, count(*)::BIGINT AS n_vecs
FROM assigned GROUP BY list_id ORDER BY list_id
"""

SPECS += [
    QuerySpec(
        "x_ann_ivf_persisted", q_ann_ivf_persisted, ORACLE_ANN_IVF,
        doc="IVF probe against a persisted list_id-partitioned catalog index (build-if-absent, cross-session)",
        tags=("llm", "similarity", "index"),
    ),
    QuerySpec(
        "s_stream_ann_ivf_persisted", q_stream_ann_ivf_persisted,
        ORACLE_STREAM_ANN_IVF_PERSISTED,
        doc="streaming ANN serving against the shared persisted catalog index (disjoint query set)",
        tags=("llm", "similarity", "index", "streaming", "T11"),
    ),
    QuerySpec(
        "x_ann_index_stats", q_ann_index_stats, ORACLE_ANN_INDEX_STATS,
        doc="persisted-IVF index health: per-list census + milli fraction from a partition-column-only scan",
        tags=("llm", "similarity", "index"),
    ),
    QuerySpec(
        "s_stream_ann_index_upsert", q_stream_ann_index_upsert,
        ORACLE_STREAM_ANN_INDEX_UPSERT,
        doc="incremental index maintenance: streamed vectors assigned to fixed centroids, idempotent per-batch deltas, final census equals from-scratch build",
        tags=("llm", "similarity", "index", "streaming", "T11"),
    ),
]
