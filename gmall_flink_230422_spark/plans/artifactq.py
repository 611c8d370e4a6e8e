"""Standing artifacts: corpus-snapshot-level indexes and models built once
and probed by every later session — the IVF ANN index, the LSH
band-signature store, the BPE vocabulary, the bigram-LM count tables,
and the ingest gate's fingerprint and benchmark-gram indexes.

- Every artifact is built IF ABSENT through ``io.ensure_artifact``: an
  immutable, fingerprint-addressed ``fp=`` directory under the warehouse
  root, published by a staged build plus an atomic rename, so a
  concurrent reader never sees a partial artifact and racing builders
  converge.
- The fingerprint is the algorithm version, the build parameters and the
  corpus FOOTER stats (``io.corpus_token`` — no corpus scan in the probe
  path); any of them moving addresses a new directory, so a stale
  artifact is never served.
- Each probe query must equal its in-session form bit for bit, enforced
  by sharing the SAME DuckDB oracle verbatim (the storage round-trip
  proof); ``tests/test_persisted_ann.py`` and
  ``tests/test_persisted_artifacts.py`` build in one process and probe,
  rebuild-free, from another.
- Artifacts are PATH-addressed parquet datasets (partitioned by the
  column probes join on) rather than catalog tables: the driver harness
  builds in-memory-catalog sessions whose catalog dies with the JVM, and
  the parquet layout is what outlives sessions. On a metastore-backed
  cluster the same layout is one ``saveAsTable`` away.

Reference parity note: the reference engine has no vector index or
standing model artifacts; this is part of the LLM-data-pipeline
extension surface (SURVEY.md §2-extension).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..io import ensure_artifact, read_parquet, scratch_dir
from ..operators import dedup, similarity, text
from . import QuerySpec
from .common import _docs_par, _embs_par, _QUERY_IDS
from .dedupq import ORACLE_LSH_BAND_HEALTH
from .streamq import ORACLE_STREAM_LSH_INCR
from .textq import ORACLE_BPE_APPLY, ORACLE_LM_SCORE
from .vectorq import ORACLE_ANN_IVF


# Bump when the index ALGORITHM changes (score truncation grid, assignment
# tiebreak, storage layout): the fingerprint folds this in, so old persisted
# artifacts are rebuilt instead of silently served to new-code probes (a
# count-only gate cannot see code changes).
_IVF_INDEX_VERSION = 1


def ensure_ivf_index(spark, sf_dir, n_centroids: int = 16) -> tuple[str, str]:
    """Build-if-absent persisted IVF index via io.ensure_artifact; returns
    (index_path, centroids_path) — the ``index`` and ``cents`` companion
    datasets inside ONE immutable fingerprint-addressed artifact directory
    ``ann_ivf_<tag>/fp=<version_params_corpusstats>/``.

    Freshness gate: the fingerprint folds the algorithm version, the
    build parameter, and the corpus FOOTER stats (corpus_token — no
    full-corpus job in the probe path); any of the three moving addresses
    a new directory, so stale artifacts are never served. Both datasets
    live inside the one atomically-published directory, so a gate-passing
    index cannot be missing its centroids, publication is build-to-staging
    + atomic rename (concurrent ensure calls race safely, losers discard),
    and a crashed build leaves only unaddressed staging debris. The index
    dataset is partitioned by
    ``list_id``: a probe that joins on the partition column prunes every
    unprobed list at the scan, which is the entire 100 TB read-path win
    (touch n_probe/n_centroids of the data).
    """
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

    art = ensure_artifact(
        "ann_ivf", sf_dir, "embeddings", f"v{_IVF_INDEX_VERSION}-c{n_centroids}", _build
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


# Bump on algorithm change (shingle width, hash family, band geometry /
# merge tiebreak / smoothing formula): forces a rebuild instead of serving
# a stale artifact to new-code probes.
_LSH_STORE_VERSION = 1
_BPE_VOCAB_VERSION = 1
_LM_MODEL_VERSION = 1


def ensure_lsh_store(spark, sf_dir) -> str:
    """Build-if-absent persisted LSH band-signature store: (doc_id, band,
    band_sig) PARTITIONED BY band — the standing near-dup index a nightly
    ingest probes (s_stream_lsh_incremental built a per-invocation fixture
    of exactly this shape; the store is its production home). Partitioning
    by band means a probe that joins on (band, band_sig) prunes to the
    probed band's partition at the scan; at 100 TB each band partition is
    further bucketed by band_sig. Returns the store path inside the
    atomically-published fingerprint directory."""
    d = _docs_par(spark, sf_dir)

    def _build(staging: str) -> None:
        dedup.doc_bands(dedup.shingles(d)).write.partitionBy("band").parquet(staging)

    return ensure_artifact(
        "lsh_store", sf_dir, "documents", f"v{_LSH_STORE_VERSION}-h16-r4", _build
    )


def _read_lsh_store(spark, store_p: str):
    # the partition column comes back type-inferred — restore the int the
    # band_signatures contract emits
    return read_parquet(spark, store_p).withColumn("band", F.col("band").cast("int"))


def q_lsh_persisted(spark, sf_dir):
    """Near-dup flags computed ENTIRELY from the persisted band store
    (build-if-absent): a doc is dup iff it shares any (band, band_sig)
    bucket with an EARLIER doc — identical semantics and oracle as
    s_stream_lsh_incremental, which derives the same flags while building
    its signature state per invocation. Equality through the persisted
    store is the storage round-trip proof. The self-semi-join keys on the
    partition column band first, so each band's bucket match scans only
    its own partition."""
    store_p = ensure_lsh_store(spark, sf_dir)
    banded = _read_lsh_store(spark, store_p)
    a, b = banded.alias("a"), banded.alias("b")
    dup = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.band_sig") == F.col("b.band_sig"))
        & (F.col("a.doc_id") > F.col("b.doc_id")),
        "left_semi",
    ).select("doc_id").distinct()
    d = _docs_par(spark, sf_dir).select("doc_id")
    return d.join(dup.withColumn("_dup", F.lit(True)), "doc_id", "left").select(
        "doc_id", F.coalesce(F.col("_dup"), F.lit(False)).alias("is_dup")
    )


def q_stream_lsh_persisted(spark, sf_dir):
    """LSH serving against the SHARED persisted band store: a document
    stream (doc_id % 3 == 1) arrives in micro-batches; each checkpointed
    batch computes the incoming docs' band signatures and probes the
    STANDING store for an earlier-doc bucket partner — the decontamination/
    dedup service shape where the corpus index is a standing artifact, not
    per-invocation state (contrast s_stream_lsh_incremental, which also
    MAINTAINS its store incrementally; here the store is the immutable
    snapshot artifact). Per-doc verdicts depend only on the doc and the
    static store, so results are batch-boundary-invariant and the batch
    oracle applies with the stream's predicate."""
    from ..sources import files
    from ..streaming.drain import drain

    store_p = ensure_lsh_store(spark, sf_dir)
    d = _docs_par(spark, sf_dir)
    stream = files.replay(d.filter(F.col("doc_id") % 3 == 1).select("doc_id", "text"))

    def _probe(batch, _i: int):
        s = batch.sparkSession
        banded = dedup.doc_bands(dedup.shingles(batch))
        store = _read_lsh_store(s, store_p).alias("b")
        dup = (
            banded.alias("a")
            .join(
                store,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.band_sig") == F.col("b.band_sig"))
                & (F.col("b.doc_id") < F.col("a.doc_id")),
                "left_semi",
            )
            .select("doc_id")
            .distinct()
        )
        return batch.select("doc_id").join(
            dup.withColumn("_dup", F.lit(True)), "doc_id", "left"
        ).select(
            "doc_id", F.coalesce(F.col("_dup"), F.lit(False)).alias("is_dup")
        )

    return drain(stream, _probe)


_LSH_FROM = "FROM documents d LEFT JOIN dup ON d.doc_id = dup.doc_id"


ORACLE_STREAM_LSH_PERSISTED = ORACLE_STREAM_LSH_INCR.replace(
    _LSH_FROM, _LSH_FROM + "\nWHERE d.doc_id % 3 = 1"
)
assert ORACLE_STREAM_LSH_PERSISTED != ORACLE_STREAM_LSH_INCR, "predicate splice failed"


def _band_health(banded):
    """The LSH band-health census (x_lsh_band_health's dashboard shape)
    over any (doc_id, band, band_sig) signature frame: colliding buckets,
    implied candidate-pair volume, max bucket per band — two hash
    aggregates, corpus never touched. Shared by the persisted-store health
    probe and the incremental-store lifecycle queries, all of which must
    equal the from-scratch x_lsh_band_health oracle verbatim."""
    buckets = (
        banded.groupBy("band", "band_sig")
        .agg(F.count(F.lit(1)).alias("sz"))
        .filter(F.col("sz") > 1)
    )
    return (
        buckets.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.sum("sz").cast("bigint").alias("n_docs"),
            F.sum(F.expr("sz * (sz - 1) div 2")).cast("bigint").alias("n_cand_pairs"),
            F.max("sz").cast("bigint").alias("max_bucket"),
        )
        .orderBy("band")
    )


def q_lsh_persisted_health(spark, sf_dir):
    """LSH index health read from the PERSISTED band store: the
    x_lsh_band_health dashboard (colliding buckets, implied candidate-pair
    volume, max bucket per band) computed by two hash aggregates over the
    standing artifact instead of re-running the shingle→minhash→band chain
    — at 100 TB the health monitor reads the write-time signature table,
    never the corpus. Same oracle as x_lsh_band_health verbatim: equality
    is the storage round-trip proof for the whole signature chain."""
    return _band_health(_read_lsh_store(spark, ensure_lsh_store(spark, sf_dir)))


def q_stream_lsh_store_upsert(spark, sf_dir):
    """INCREMENTAL LSH-STORE MAINTENANCE — the signature-store mirror of
    s_stream_ann_index_upsert, completing the lifecycle symmetry between
    the two standing indexes: the band store is built once over the
    standing corpus (doc_id % 3 != 1), then NEW documents stream in and
    each checkpointed micro-batch computes their band signatures (a
    per-doc map — signatures depend only on the doc, never on corpus
    membership, which is what makes the store append-only) and lands them
    as an idempotent per-batch delta (overwrite of delta/ingest_batch=<id>,
    band-partitioned — the repo's exactly-once file-sink pattern). The
    live store = base ∪ deltas; at 100 TB a compactor folds deltas into
    the band partitions on a schedule (x_lsh_store_compact), probes read
    both sides until then.

    Correctness statement: because signatures are corpus-independent,
    the band-health census of base ∪ deltas must equal a from-scratch
    build over the full corpus — the x_lsh_band_health oracle verbatim."""
    from ..sources import files
    from ..streaming.drain import drain

    d = _docs_par(spark, sf_dir)
    base = d.filter(F.col("doc_id") % 3 != 1)
    fresh = d.filter(F.col("doc_id") % 3 == 1).select("doc_id", "text")
    tmp = scratch_dir("streamq_lshupsert_")
    base_p = os.path.join(tmp, "base")
    delta_p = os.path.join(tmp, "delta")

    dedup.doc_bands(dedup.shingles(base)).write.partitionBy("band").parquet(base_p)

    stream = files.replay(fresh)

    def _ingest(batch, batch_id: int) -> None:
        dedup.doc_bands(dedup.shingles(batch)).write.mode("overwrite").partitionBy("band").parquet(
            os.path.join(delta_p, f"ingest_batch={batch_id}")
        )

    drain(stream, _ingest)

    live = _read_lsh_store(spark, base_p).unionByName(
        _read_lsh_store(spark, delta_p).select("doc_id", "band_sig", "band")
    )
    return _band_health(live)


def q_lsh_store_compact(spark, sf_dir):
    """LSH-STORE COMPACTION — the scheduled maintenance step closing the
    signature-store lifecycle (mirror of x_ann_index_compact): base store
    ∪ accumulated ingest deltas are rewritten as ONE consolidated
    band-partitioned dataset — merge-on-read becomes read-one-dataset,
    the delta dirs become garbage. The compactor is a single
    partitionBy(band) rewrite: one hash exchange on the partition key, no
    joins; probes flip to the compacted dataset atomically (the
    ensure_dataset staging+rename pattern). Correctness statement: the
    band-health census of the COMPACTED store equals a from-scratch
    full-corpus build (compaction must move bytes, never rows) — the
    x_lsh_band_health oracle verbatim."""
    d = _docs_par(spark, sf_dir)
    base = d.filter(F.col("doc_id") % 3 != 1)
    fresh = d.filter(F.col("doc_id") % 3 == 1)
    tmp = scratch_dir("r11_lshcompact_")
    base_p = os.path.join(tmp, "base")
    delta_p = os.path.join(tmp, "delta")
    compact_p = os.path.join(tmp, "compacted")

    dedup.doc_bands(dedup.shingles(base)).write.partitionBy("band").parquet(base_p)
    # three accumulated ingest deltas (the upsert twin's sink shape);
    # doc_id = 3m+1 here, so (doc_id div 3) % 3 splits fresh 3 ways
    for i in range(3):
        dedup.doc_bands(
            dedup.shingles(fresh.filter(F.expr("(doc_id div 3) % 3") == i))
        ).write.partitionBy("band").parquet(os.path.join(delta_p, f"ingest_batch={i}"))

    merged = _read_lsh_store(spark, base_p).select(
        "doc_id", "band_sig", "band"
    ).unionByName(
        _read_lsh_store(spark, delta_p).select("doc_id", "band_sig", "band")
    )
    merged.write.partitionBy("band").parquet(compact_p)

    return _band_health(_read_lsh_store(spark, compact_p))


# ----------------------------------------------------- persisted BPE vocab
def ensure_bpe_vocab(spark, sf_dir, n_merges: int = 3) -> tuple[str, str]:
    """Build-if-absent persisted BPE tokenizer artifact: the ``merges``
    table (step, p1, p2, pair_count — the model itself, one row per merge)
    and the ``vocab`` companion (word, freq, sym[] — the corpus vocabulary
    already folded through every merge, which is what the apply stage
    joins against). Both live in ONE fingerprint directory, so a
    gate-passing vocab always matches its merges. Unlike ``_bpe_trained``,
    which trains inside each query, training here is a per-snapshot cost,
    paid once, never per JVM."""
    d = _docs_par(spark, sf_dir)

    def _build(staging: str) -> None:
        merges, vocab = text._bpe_train(d, n_merges)
        spark.createDataFrame(
            merges, "step int, p1 string, p2 string, pair_count bigint"
        ).coalesce(1).write.parquet(os.path.join(staging, "merges"))
        vocab.write.parquet(os.path.join(staging, "vocab"))

    art = ensure_artifact(
        "bpe_vocab", sf_dir, "documents", f"v{_BPE_VOCAB_VERSION}-m{n_merges}", _build
    )
    return os.path.join(art, "merges"), os.path.join(art, "vocab")


def q_bpe_persisted(spark, sf_dir):
    """Tokenizer apply against the PERSISTED vocabulary (build-if-absent):
    identical semantics and oracle as x_bpe_apply, which trains and
    applies in-query — the equality through parquet is
    the storage round-trip proof. The apply itself is unchanged: encoded
    vocab joined back to the corpus token stream on the word key."""
    _merges_p, vocab_p = ensure_bpe_vocab(spark, sf_dir)
    return text.bpe_encoded_length_with_vocab(
        _docs_par(spark, sf_dir), read_parquet(spark, vocab_p)
    )


# ------------------------------------------------------ persisted bigram LM
def ensure_lm_model(spark, sf_dir) -> tuple[str, str]:
    """Build-if-absent persisted bigram-LM model: the ``uni`` (tok, c1)
    and ``bg`` (w1, w2, c2) count tables of operators/text.lm_bigram_model
    as companion datasets in one fingerprint directory. The KenLM-style
    standing artifact: at 100 TB the model is counted once per corpus
    snapshot and every quality-scoring job joins against it; vocabulary
    size V is derived from ``uni`` at score time (one broadcast scalar),
    so the artifact needs no sidecar."""
    d = _docs_par(spark, sf_dir)

    def _build(staging: str) -> None:
        uni, bg = text.lm_bigram_model(d)
        uni.write.parquet(os.path.join(staging, "uni"))
        bg.write.parquet(os.path.join(staging, "bg"))

    art = ensure_artifact("lm_model", sf_dir, "documents", f"v{_LM_MODEL_VERSION}", _build)
    return os.path.join(art, "uni"), os.path.join(art, "bg")


def q_lm_persisted(spark, sf_dir):
    """Bigram-LM scoring against the PERSISTED model tables
    (build-if-absent): same joins, smoothing, and integer milli-nat
    arithmetic as x_lm_score (text.lm_score_with_model shares the scoring
    body with the in-session path), same oracle verbatim — bit-exact
    through storage because every per-bigram surprisal is floored to an
    integer before the order-independent sum."""
    uni_p, bg_p = ensure_lm_model(spark, sf_dir)
    comp = text.lm_score_with_model(
        _docs_par(spark, sf_dir),
        read_parquet(spark, uni_p),
        read_parquet(spark, bg_p),
    )
    return comp.select(
        "doc_id",
        "n_bigrams",
        (F.expr("(ssum * 10) div n_bigrams") / F.lit(10000.0)).alias("avg_surprisal"),
    )


# ---------------------------------------------------------- ingest admission gate
_FP_INDEX_VERSION = 1
_BENCH_GRAMS_VERSION = 1


# The ingest stream carries candidate TRAINING documents: benchmark docs
# (doc_id % 17 == 0, the repo's held-out stand-in) are not arrivals, they
# are the protected set the gate screens AGAINST.
_INCOMING_PRED_SQL = "doc_id % 3 = 1 AND doc_id % 17 != 0"


def _incoming(spark, sf_dir):
    return _docs_par(spark, sf_dir).filter(
        (F.col("doc_id") % 3 == 1) & (F.col("doc_id") % 17 != 0)
    ).select("doc_id", "text")


def ensure_fp_index(spark, sf_dir) -> str:
    """Build-if-absent persisted EXACT-dedup fingerprint index: one row per
    distinct normalized-text md5 with the earliest owning doc_id — the
    standing admission-control table an ingest gate joins each arrival
    against (operators/dedup.exact_dedup_groups is the in-session form).
    At 100 TB this is corpus-cardinality but narrow (two columns), and the
    probe is a fingerprint-keyed equi join."""
    d = _docs_par(spark, sf_dir)

    def _build(staging: str) -> None:
        (
            d.select(dedup.fingerprint(F.col("text")).alias("fp"), "doc_id")
            .groupBy("fp")
            .agg(F.min("doc_id").alias("first_id"))
            .write.parquet(staging)
        )

    return ensure_artifact("fp_index", sf_dir, "documents", f"v{_FP_INDEX_VERSION}", _build)


def ensure_bench_grams(spark, sf_dir) -> str:
    """Build-if-absent persisted BENCHMARK 13-gram set: the distinct
    13-token grams of the held-out docs (doc_id % 17 == 0) — the
    decontamination side of the admission gate. Heaps-law small relative
    to the corpus, so at 100 TB this is the broadcast side of the probe."""
    d = _docs_par(spark, sf_dir)

    def _build(staging: str) -> None:
        (
            dedup.shingles(d.filter(F.col("doc_id") % 17 == 0), k=13)
            .select("shingle")
            .distinct()
            .write.parquet(staging)
        )

    return ensure_artifact(
        "bench_grams", sf_dir, "documents", f"v{_BENCH_GRAMS_VERSION}-k13", _build
    )


def _gate_verdicts(spark, sf_dir, incoming):
    """Admission verdicts for an incoming (doc_id, text) frame against the
    THREE standing artifacts — the whole point of the persisted-artifact
    contract in one operator:

    - exact dup: arrival's normalized-text md5 hits the persisted
      fingerprint index with an earlier first_id (fp-keyed equi join);
    - near dup: arrival's band signatures (computed in-batch — a pure map,
      signatures are corpus-independent) share a bucket with an EARLIER
      doc in the persisted LSH band store (partition-pruned by band);
    - contaminated: any of the arrival's 13-grams is in the persisted
      benchmark gram set (broadcast-scale semi join).

    Verdict priority: exact > near-dup > contamination > accept (an exact
    duplicate is rejected before its gram overlap is ever consulted)."""
    fps = read_parquet(spark, ensure_fp_index(spark, sf_dir))
    store = _read_lsh_store(spark, ensure_lsh_store(spark, sf_dir)).alias("b")
    bench = read_parquet(spark, ensure_bench_grams(spark, sf_dir))

    exact = (
        incoming.select("doc_id", dedup.fingerprint(F.col("text")).alias("fp"))
        .join(fps, "fp")
        .filter(F.col("first_id") < F.col("doc_id"))
        .select("doc_id")
    )
    banded = dedup.doc_bands(dedup.shingles(incoming))
    near = (
        banded.alias("a")
        .join(
            store,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("b.doc_id") < F.col("a.doc_id")),
            "left_semi",
        )
        .select("doc_id")
        .distinct()
    )
    contam = (
        dedup.shingles(incoming, k=13)
        .join(bench, "shingle", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return (
        incoming.select("doc_id")
        .join(exact.withColumn("_e", F.lit(True)), "doc_id", "left")
        .join(near.withColumn("_n", F.lit(True)), "doc_id", "left")
        .join(contam.withColumn("_c", F.lit(True)), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_e"), F.lit(False)).alias("is_exact_dup"),
            F.coalesce(F.col("_n"), F.lit(False)).alias("is_near_dup"),
            F.coalesce(F.col("_c"), F.lit(False)).alias("is_contaminated"),
        )
        .withColumn(
            "verdict",
            F.when(F.col("is_exact_dup"), F.lit("reject_exact"))
            .when(F.col("is_near_dup"), F.lit("reject_near_dup"))
            .when(F.col("is_contaminated"), F.lit("quarantine_contam"))
            .otherwise(F.lit("accept")),
        )
    )


def q_ingest_gate(spark, sf_dir):
    """THE INGEST ADMISSION GATE — the capstone the standing-artifact
    contract exists for: should this candidate training document enter the
    corpus? Every piece of admission state is a persisted artifact (the
    exact-dedup fingerprint index, the LSH band store, the benchmark
    13-gram set — all build-if-absent behind io.ensure_artifact), so
    the gate itself is pure maps + keyed joins: no corpus scan, no
    training, no state owned by the session. Scale shape: fp probe is an
    equi join on a 128-bit key, the band probe prunes to the arrival's
    band partitions, the gram probe broadcasts the Heaps-law-small
    benchmark set."""
    return _gate_verdicts(spark, sf_dir, _incoming(spark, sf_dir)).orderBy("doc_id")


def q_stream_ingest_gate(spark, sf_dir):
    """Streaming twin of x_ingest_gate: arrivals in checkpointed
    micro-batches, each batch gated against the SAME three standing
    artifacts (ensure_* is a no-op after the first build — the artifact
    outlives the batch, the session, and the JVM), verdicts landed via
    the replay-safe per-batch-dir overwrite sink. Per-doc verdicts depend
    only on the doc and the standing artifacts, so results are
    batch-boundary-invariant and the batch oracle applies verbatim."""
    from ..sources import files
    from ..streaming.drain import drain

    return drain(
        files.replay(_incoming(spark, sf_dir)),
        lambda batch, _i: _gate_verdicts(batch.sparkSession, sf_dir, batch),
    )


def _oracle_ingest_gate() -> str:
    from .common import _minhash_band_ctes, _shingles_cte
    from .common import _GRAM13, _TOKS

    return f"""
WITH {_shingles_cte()},{_minhash_band_ctes()},
incoming AS (SELECT doc_id FROM documents WHERE {_INCOMING_PRED_SQL}),
fps AS (SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents),
firsts AS (SELECT fp, min(doc_id) AS first_id FROM fps GROUP BY 1),
exact AS (
  SELECT f.doc_id FROM fps f JOIN firsts x USING (fp) WHERE x.first_id < f.doc_id
),
near AS (
  SELECT DISTINCT a.doc_id FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_sig = b.band_sig AND b.doc_id < a.doc_id
),
t13 AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
g13 AS (
  SELECT DISTINCT doc_id, {_GRAM13} AS gram
  FROM t13, unnest(range(1, len(toks) - 11)) AS u(i)
  WHERE len(toks) >= 13
),
bench AS (SELECT DISTINCT gram FROM g13 WHERE doc_id % 17 = 0),
contam AS (SELECT DISTINCT doc_id FROM g13 JOIN bench USING (gram))
SELECT i.doc_id,
       e.doc_id IS NOT NULL AS is_exact_dup,
       n.doc_id IS NOT NULL AS is_near_dup,
       c.doc_id IS NOT NULL AS is_contaminated,
       CASE WHEN e.doc_id IS NOT NULL THEN 'reject_exact'
            WHEN n.doc_id IS NOT NULL THEN 'reject_near_dup'
            WHEN c.doc_id IS NOT NULL THEN 'quarantine_contam'
            ELSE 'accept' END AS verdict
FROM incoming i
LEFT JOIN exact e USING (doc_id)
LEFT JOIN near n USING (doc_id)
LEFT JOIN contam c USING (doc_id)
ORDER BY doc_id
"""


# -------------------------------------------------------- index compaction
def q_ann_index_compact(spark, sf_dir):
    """INDEX COMPACTION — the scheduled maintenance step that completes
    the incremental-index lifecycle: s_stream_ann_index_upsert lands
    per-batch deltas next to the base index (its docstring promises "a
    compactor folds deltas into the list_id partitions on a schedule");
    this is that compactor. Base ∪ accumulated deltas are rewritten as
    ONE consolidated list_id-partitioned dataset — merge-on-read becomes
    read-one-dataset, the delta dirs become garbage. Correctness
    statement: the census of the COMPACTED dataset equals a from-scratch
    batch build with the same centroids (the same oracle as the upsert
    query — compaction must move bytes, never rows).

    Scale shape: the compactor is one partitionBy(list_id) rewrite —
    a single hash exchange on the partition key, no joins; at 100 TB it
    runs per-partition-group on a schedule, and probes flip to the
    compacted dataset atomically (the ensure_dataset staging+rename
    pattern)."""

    e = _embs_par(spark, sf_dir)
    base = e.filter(F.col("vec_id") % 10 != 7)
    fresh = e.filter(F.col("vec_id") % 10 == 7)
    tmp = scratch_dir("r11_compact_")
    cents_p = os.path.join(tmp, "cents")
    base_p = os.path.join(tmp, "base")
    delta_p = os.path.join(tmp, "delta")
    compact_p = os.path.join(tmp, "compacted")

    similarity.ivf_centroids(base, n_centroids=16).write.parquet(cents_p)
    cents = read_parquet(spark, cents_p)
    similarity.ivf_assign(base, cents).write.partitionBy("list_id").parquet(base_p)
    # three accumulated ingest deltas (the upsert query's sink shape)
    for i in range(3):
        (
            similarity.ivf_assign(fresh.filter(F.col("vec_id") % 3 == i), cents)
            .write.partitionBy("list_id")
            .parquet(os.path.join(delta_p, f"ingest_batch={i}"))
        )

    # the compactor: one partition-key rewrite of base ∪ deltas
    merged = read_parquet(spark, base_p).select(
        "vec_id", "embedding", "list_id"
    ).unionByName(
        read_parquet(spark, delta_p).select("vec_id", "embedding", "list_id")
    )
    merged.write.partitionBy("list_id").parquet(compact_p)

    return (
        read_parquet(spark, compact_p)
        .groupBy(F.col("list_id").cast("bigint").alias("list_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"))
        .orderBy("list_id")
    )


def _oracle_index_compact() -> str:
    return ORACLE_STREAM_ANN_INDEX_UPSERT


SPECS = [
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
    QuerySpec(
        "x_ann_index_compact", q_ann_index_compact, _oracle_index_compact(),
        doc="index compaction: base ∪ accumulated deltas rewritten into one consolidated list_id-partitioned dataset; census equals from-scratch build (same oracle as the upsert twin)",
        tags=("llm", "similarity", "index"),
    ),
    QuerySpec(
        "x_lsh_persisted", q_lsh_persisted, ORACLE_STREAM_LSH_INCR,
        doc="near-dup flags from the persisted band-partitioned LSH signature store (build-if-absent, cross-session); same oracle as s_stream_lsh_incremental",
        tags=("llm", "dedup", "index"),
    ),
    QuerySpec(
        "s_stream_lsh_persisted", q_stream_lsh_persisted,
        ORACLE_STREAM_LSH_PERSISTED,
        doc="streaming near-dup serving against the shared persisted LSH store (doc_id%3==1 stream)",
        tags=("llm", "dedup", "index", "streaming", "T11"),
    ),
    QuerySpec(
        "x_lsh_persisted_health", q_lsh_persisted_health,
        ORACLE_LSH_BAND_HEALTH,
        doc="LSH band-health dashboard read from the persisted signature store (two hash aggregates, corpus never touched); same oracle as x_lsh_band_health",
        tags=("llm", "dedup", "index"),
    ),
    QuerySpec(
        "x_bpe_persisted", q_bpe_persisted, ORACLE_BPE_APPLY,
        doc="BPE encode against the persisted trained vocabulary (build-if-absent, cross-session); same oracle as x_bpe_apply",
        tags=("llm", "text", "tokenizer", "index"),
    ),
    QuerySpec(
        "x_lm_persisted", q_lm_persisted, ORACLE_LM_SCORE,
        doc="bigram-LM surprisal scoring against the persisted model count tables (build-if-absent, cross-session); same oracle as x_lm_score",
        tags=("llm", "text", "index"),
    ),
    QuerySpec(
        "s_stream_lsh_store_upsert", q_stream_lsh_store_upsert,
        ORACLE_LSH_BAND_HEALTH,
        doc="incremental LSH-store maintenance: streamed docs land idempotent band-partitioned signature deltas; census of base ∪ deltas equals a from-scratch full-corpus build (x_lsh_band_health oracle verbatim)",
        tags=("llm", "dedup", "index", "streaming", "T11"),
    ),
    QuerySpec(
        "x_lsh_store_compact", q_lsh_store_compact,
        ORACLE_LSH_BAND_HEALTH,
        doc="LSH-store compaction: base ∪ accumulated ingest deltas rewritten into one consolidated band-partitioned dataset; census equals from-scratch build (x_lsh_band_health oracle verbatim)",
        tags=("llm", "dedup", "index"),
    ),
    QuerySpec(
        "x_ingest_gate", q_ingest_gate, _oracle_ingest_gate(),
        doc="ingest admission gate capstone: per-arrival exact-dup / near-dup / contamination verdicts computed ENTIRELY from the three persisted standing artifacts (fingerprint index, LSH band store, benchmark 13-gram set)",
        tags=("llm", "dedup", "index", "capstone"),
    ),
    QuerySpec(
        "s_stream_ingest_gate", q_stream_ingest_gate, _oracle_ingest_gate(),
        doc="streaming admission gate: checkpointed micro-batches gated against the same three standing artifacts; batch oracle verbatim (verdicts are batch-boundary-invariant)",
        tags=("llm", "dedup", "index", "streaming", "capstone", "T11"),
    ),
]
