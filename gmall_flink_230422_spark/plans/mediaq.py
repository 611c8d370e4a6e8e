"""Multimodal plumbing over opaque binary payloads: Arrow-batched decode,
frame explode, frame dedup, scene cuts and signal windows (the audio
analog), all as ``mapInPandas``/columnar stages.

Each Spark pipeline has a semantically identical DuckDB oracle built on
the same portable md5-derived hash (functions.hashing) and the same
integer/floor grids, so even MinHash/SimHash signatures hash-match.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..io import load_table
from . import QuerySpec
from .common import _docs_par


# ---------------------------------------------------------------- multimodal decode stub
def q_multimodal_decode(spark, sf_dir):
    """Multimodal plumbing: opaque binary column + Arrow-batched mapInPandas
    decode (deterministic stub kernel — see operators.multimodal)."""
    from ..operators import multimodal

    d = load_table(spark, sf_dir, "documents")
    media = multimodal.to_media_table(d)
    return multimodal.decode_media(media).select("doc_id", "n_bytes", "width", "height")


ORACLE_MULTIMODAL = """
SELECT doc_id,
       octet_length(encode(text))::BIGINT AS n_bytes,
       (octet_length(encode(text)) % 64 + 1)::BIGINT AS width,
       ((octet_length(encode(text)) // 64) % 64 + 1)::BIGINT AS height
FROM documents
"""


def q_frame_explode(spark, sf_dir):
    """Video→frames fan-out analog: one row per 32-byte slice of each
    payload, aggregated per doc (frame count + byte-accounting check).
    JVM-side sequence→explode→binary substring — no Python, no shuffle
    until the final per-doc aggregate."""
    from ..operators import multimodal

    d = load_table(spark, sf_dir, "documents")
    media = multimodal.to_media_table(d)
    frames = multimodal.explode_frames(media, frame_bytes=32)
    return frames.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum("frame_len").alias("total_len"),
        F.sum(F.octet_length("frame").cast("long")).alias("sliced_len"),
    )


ORACLE_FRAME_EXPLODE = """
WITH m AS (SELECT doc_id, octet_length(encode(text)) AS n_bytes FROM documents),
f AS (
  SELECT doc_id, n_bytes, unnest(range(0, ((n_bytes + 31) // 32))) AS frame_idx
  FROM m WHERE n_bytes > 0
)
SELECT doc_id, count(*)::BIGINT AS n_frames,
       sum(least(32, n_bytes - frame_idx * 32))::BIGINT AS total_len,
       sum(least(32, n_bytes - frame_idx * 32))::BIGINT AS sliced_len
FROM f GROUP BY doc_id
"""


def q_multimodal_pipeline(spark, sf_dir):
    """Full multimodal chain: wrap → resize (byte-cap 128) → decode dims +
    feature-extract (4 dims, portable-hash stub kernel) → join on doc_id.
    Every stage is Arrow-batched mapInPandas over the binary column; the
    join is id-to-id (co-partitioned after the same source scan)."""
    from ..operators import multimodal

    d = load_table(spark, sf_dir, "documents")
    media = multimodal.resize_media(multimodal.to_media_table(d), max_bytes=128)
    dims = multimodal.decode_media(media).select("doc_id", "n_bytes", "width", "height")
    feats = multimodal.extract_features(media, dim=4)
    return dims.join(feats, "doc_id")


# the stub kernels are portable constructions: byte-cap = substring on the
# utf-8 blob; feature i = md5(payload || ':' || i) int60 mod 1000 / 1000
ORACLE_MULTIMODAL_PIPELINE = """
WITH clipped AS (
  -- document text is pure ASCII in this corpus, so char ops == byte ops;
  -- a binary-capable engine would slice the BLOB directly
  SELECT doc_id, substr(text, 1, 128) AS blob FROM documents
)
SELECT doc_id, length(blob)::BIGINT AS n_bytes,
       (length(blob) % 64 + 1)::BIGINT AS width,
       ((length(blob) // 64) % 64 + 1)::BIGINT AS height,
       (('0x' || substr(md5(blob || ':0'), 1, 15))::BIGINT % 1000) / 1000.0 AS f0,
       (('0x' || substr(md5(blob || ':1'), 1, 15))::BIGINT % 1000) / 1000.0 AS f1,
       (('0x' || substr(md5(blob || ':2'), 1, 15))::BIGINT % 1000) / 1000.0 AS f2,
       (('0x' || substr(md5(blob || ':3'), 1, 15))::BIGINT % 1000) / 1000.0 AS f3
FROM clipped
"""


# ---------------------------------------------------------------- signal windows (audio analog)
def q_signal_windows(spark, sf_dir):
    """Audio STFT-frame analog over the opaque media column: overlapped
    64-unit windows at 32-unit hop, each with its integer energy proxy
    (operators/multimodal.window_signal — JVM-side fan-out + windowed
    fold; the FFT kernel a real deployment slots in is stubbed, the
    partition-local fan-out shape is the tested part)."""
    from ..operators import multimodal

    d = _docs_par(spark, sf_dir)
    media = multimodal.to_media_table(d)
    return multimodal.window_signal(media, window_units=64, hop_units=32)


ORACLE_SIGNAL_WINDOWS = """
WITH m AS (SELECT doc_id, text, length(text) AS n_units FROM documents),
w AS (
  SELECT doc_id, text, unnest(range(0, ((n_units - 64) // 32) + 1)) AS win_idx
  FROM m WHERE n_units >= 64
)
SELECT doc_id, win_idx, win_idx * 32 + 1 AS start_unit,
       list_sum(list_transform(range(win_idx * 32 + 1, win_idx * 32 + 65),
                               i -> ord(substr(text, i::INT, 1))))::BIGINT AS energy
FROM w
"""


# ------------------------------------------------- active-signal segments
def q_energy_segments(spark, sf_dir):
    """Voice-activity-style segment extraction over the windowed signal
    frames (x_signal_windows): frames at or above their doc's mean energy
    are 'active'; consecutive active frames merge into segments via the
    gaps-and-islands pattern (win_idx − row_number — one keyed window, no
    self-join). The audio-pipeline step between framing and transcription;
    all-integer energies keep it grid-exact."""
    from ..operators import multimodal

    d = _docs_par(spark, sf_dir)
    frames = multimodal.window_signal(
        multimodal.to_media_table(d), window_units=64, hop_units=32
    ).select("doc_id", "win_idx", "energy")
    stats = frames.groupBy("doc_id").agg(
        F.sum("energy").alias("tot"), F.count(F.lit(1)).alias("nf")
    )
    act = frames.join(stats, "doc_id").filter(
        F.col("energy") * F.col("nf") >= F.col("tot")
    )
    from pyspark.sql import Window as _W
    w = _W.partitionBy("doc_id").orderBy("win_idx")
    grp = act.select(
        "doc_id", "win_idx", "energy",
        (F.col("win_idx") - F.row_number().over(w)).alias("g"),
    )
    return (
        grp.groupBy("doc_id", "g")
        .agg(
            F.min("win_idx").alias("seg_start"),
            F.max("win_idx").alias("seg_end"),
            F.count(F.lit(1)).alias("n_frames"),
            F.sum("energy").alias("seg_energy"),
        )
        .select("doc_id", "seg_start", "seg_end", "n_frames", "seg_energy")
    )


ORACLE_ENERGY_SEGMENTS = f"""
WITH frames AS ({ORACLE_SIGNAL_WINDOWS}),
stats AS (
  SELECT doc_id, sum(energy) AS tot, count(*) AS nf FROM frames GROUP BY 1
),
act AS (
  SELECT f.doc_id, f.win_idx, f.energy
  FROM frames f JOIN stats s USING (doc_id)
  WHERE f.energy * s.nf >= s.tot
),
grp AS (
  SELECT doc_id, win_idx, energy,
         win_idx - row_number() OVER (PARTITION BY doc_id ORDER BY win_idx) AS g
  FROM act
)
SELECT doc_id, min(win_idx) AS seg_start, max(win_idx) AS seg_end,
       count(*)::BIGINT AS n_frames, sum(energy)::BIGINT AS seg_energy
FROM grp GROUP BY doc_id, g
"""


# ---------------------------------------------------------------- duplicate-frame detection
def q_frame_dedup(spark, sf_dir):
    """Duplicate-frame detection per source — the multimodal analog of
    exact text dedup: slice every payload into 32-byte frames (the
    x_frame_explode fan-out), group identical frame bytes within each
    source, and report the per-source duplication rate. In a real video
    corpus this is the static-scene / slate / test-pattern detector that
    decides frame-sampling rates before feature extraction.

    Parity: frames compare as UPPERCASE HEX strings (Spark hex(binary) ==
    DuckDB substring(to_hex(blob)) — byte-identical, verified), because
    DuckDB cannot slice BLOBs; the hex detour costs 2× string width on
    the oracle side only (Spark slices binary natively then hexes).

    Scale shape: JVM-side fan-out (sequence → explode → substring, no
    Python, no shuffle), ONE (source, frame) hash aggregate — the
    map-side-combinable exact-dedup shape — then a source-keyed rollup."""
    from ..operators import multimodal

    d = load_table(spark, sf_dir, "documents")
    media = multimodal.to_media_table(d)
    frames = multimodal.explode_frames(media, frame_bytes=32)
    fr = frames.join(d.select("doc_id", "source"), "doc_id").select(
        "source", F.hex(F.col("frame")).alias("fhex")
    )
    g = fr.groupBy("source", "fhex").agg(F.count(F.lit(1)).alias("ct"))
    return g.groupBy("source").agg(
        F.sum("ct").cast("bigint").alias("n_frames"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_frames"),
    ).select(
        "source", "n_frames", "n_distinct_frames",
        (F.expr("((n_frames - n_distinct_frames) * 10000) div greatest(n_frames, 1)")
         / F.lit(10000.0)).alias("dup_rate"),
    ).orderBy("source")


ORACLE_FRAME_DEDUP = """
WITH m AS (
  SELECT doc_id, source, to_hex(encode(text)) AS hexpay,
         octet_length(encode(text)) AS n_bytes
  FROM documents
),
f AS (
  SELECT source,
         substring(hexpay, (frame_idx * 64 + 1)::BIGINT, 64) AS fhex
  FROM (
    SELECT source, hexpay, unnest(range(0, ((n_bytes + 31) // 32))) AS frame_idx
    FROM m WHERE n_bytes > 0
  )
),
g AS (SELECT source, fhex, count(*) AS ct FROM f GROUP BY 1, 2)
SELECT source, sum(ct)::BIGINT AS n_frames, count(*)::BIGINT AS n_distinct_frames,
       (((sum(ct) - count(*)) * 10000) // greatest(sum(ct), 1)) / 10000.0 AS dup_rate
FROM g GROUP BY source ORDER BY source
"""


# ------------------------------------------------------------- scene cuts
def q_scene_cuts(spark, sf_dir):
    """Scene-cut segmentation over the frame fan-out — the multimodal
    sampling pass that picks per-scene keyframes instead of uniform
    sampling: per doc (video stand-in), frames in order, a cut wherever
    the frame feature jumps by > 500 milli-units from its predecessor.
    The feature is the portable hash of the frame bytes mod 1000 — a
    STAND-IN for a real per-frame embedding/histogram (decode libs absent
    here; the fan-out, keyed-window ordering, and rollup are the real
    plumbing, cf. operators/multimodal.py). Keyed window (doc_id, ordered
    by frame_idx — never global), one per-doc aggregate, one per-source
    rollup."""
    from pyspark.sql import Window

    from ..functions.hashing import portable_hash64
    from ..operators import multimodal

    d = load_table(spark, sf_dir, "documents")
    media = multimodal.to_media_table(d)
    frames = multimodal.explode_frames(media, frame_bytes=32)
    feat = frames.select(
        "doc_id",
        "frame_idx",
        F.pmod(portable_hash64(F.hex(F.col("frame"))), F.lit(1000)).alias("feat"),
    )
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    cuts = feat.select(
        "doc_id",
        (
            F.abs(F.col("feat") - F.lag("feat").over(w)) > 500
        ).cast("int").alias("is_cut"),
    )
    per_doc = cuts.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.coalesce(F.sum("is_cut"), F.lit(0)).alias("n_cuts"),
    )
    return (
        per_doc.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_frames").cast("bigint").alias("n_frames"),
            F.sum("n_cuts").cast("bigint").alias("n_cuts"),
            F.expr("sum(n_cuts) * 1000 div sum(n_frames)")
            .cast("bigint")
            .alias("cuts_per_frame_milli"),
        )
        .orderBy("source")
    )


ORACLE_SCENE_CUTS = """
WITH m AS (
  SELECT doc_id, source, to_hex(encode(text)) AS hexpay,
         octet_length(encode(text)) AS n_bytes
  FROM documents
),
f AS (
  SELECT doc_id, source, frame_idx,
         ('0x' || substr(md5(upper(substring(hexpay, (frame_idx * 64 + 1)::BIGINT, 64))), 1, 15))::BIGINT % 1000 AS feat
  FROM (
    SELECT doc_id, source, hexpay, unnest(range(0, ((n_bytes + 31) // 32))) AS frame_idx
    FROM m WHERE n_bytes > 0
  )
),
cuts AS (
  SELECT doc_id, source,
         (abs(feat - lag(feat) OVER (PARTITION BY doc_id ORDER BY frame_idx)) > 500)::INT AS is_cut
  FROM f
),
per_doc AS (
  SELECT doc_id, source, count(*) AS n_frames, coalesce(sum(is_cut), 0) AS n_cuts
  FROM cuts GROUP BY 1, 2
)
SELECT source, count(*)::BIGINT AS n_docs,
       sum(n_frames)::BIGINT AS n_frames,
       sum(n_cuts)::BIGINT AS n_cuts,
       (sum(n_cuts) * 1000 // sum(n_frames))::BIGINT AS cuts_per_frame_milli
FROM per_doc GROUP BY source ORDER BY source
"""


# ------------------------------------------------------------- frame byte flatness
def q_frame_byte_flatness(spark, sf_dir):
    """Multimodal payload health: per-source BYTE-VALUE distribution
    flatness — the variational distance between the observed byte
    histogram of the media payloads and the uniform 1/256 — plus distinct
    byte coverage. A stuck sensor / constant-frame feed collapses to a
    few byte values (vd→~1000); healthy compressed media sits near
    uniform (vd→0). The entropy-style screen with NO logs, so both
    engines agree bit-for-bit.

    Scale shape: byte fan-out is JVM-side (hex(payload) sliced by an
    exploded position sequence — one row per byte, linear and
    partition-local, the explode_frames contract), then ONE
    (source, byte) hash agg; the 256-value axis is DENSIFIED by a
    broadcast cross join so absent bytes contribute their full uniform
    mass; the final rollup is exact integers over the common denominator
    256·n_s. int64 bound: the 500/256 milli factor is
    reduced to 125/64, so the largest intermediate is _num·125 ≤
    64000·n_bytes_total — safe to ~1.4e14 payload bytes PER SOURCE
    (above the 100 TB total design point); beyond that, shard the rollup
    by source before the final division."""
    from ..operators import multimodal

    d = _docs_par(spark, sf_dir)
    media = multimodal.to_media_table(d).join(
        d.select("doc_id", "source"), "doc_id"
    )
    by = (
        media.filter(F.col("n_bytes") > 0)
        .select(
            "source",
            F.upper(F.hex(F.col("media"))).alias("_hx"),
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("n_bytes") - 1)).alias("_i"),
        )
        .select(
            "source",
            F.expr("substring(_hx, cast(_i * 2 + 1 as int), 2)").alias("byte"),
        )
        .groupBy("source", "byte")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    ).cache()  # <=256 x |sources| rows, two consumers (totals + dense join):
    # uncached, the corpus-sized per-byte fan-out would compile and run twice
    totals = by.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("n_bytes_total"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_bytes"),
    )
    axis = spark.range(256).select(
        F.format_string("%02X", F.col("id").cast("int")).alias("byte")
    )
    dense = (
        totals.crossJoin(F.broadcast(axis))
        .join(by, ["source", "byte"], "left")
        .withColumn("cnt", F.coalesce(F.col("cnt"), F.lit(0)))
    )
    return (
        dense.groupBy("source", "n_bytes_total", "n_distinct_bytes")
        .agg(
            F.sum(F.abs(F.col("cnt") * 256 - F.col("n_bytes_total")))
            .cast("bigint")
            .alias("_num")
        )
        .select(
            "source",
            "n_bytes_total",
            "n_distinct_bytes",
            F.expr("_num * 125 div (n_bytes_total * 64)").cast("bigint").alias("vd_milli"),
        )
        .orderBy("source")
    )


ORACLE_FRAME_BYTE_FLATNESS = """
WITH media AS (
  SELECT doc_id, source, encode(text) AS m, octet_length(encode(text))::BIGINT AS nb
  FROM documents
),
by AS (
  SELECT source, substring(upper(hex(m)), (i * 2 + 1)::INT, 2) AS byte,
         count(*)::BIGINT AS cnt
  FROM media, unnest(range(nb)) AS u(i)
  WHERE nb > 0
  GROUP BY 1, 2
),
totals AS (
  SELECT source, sum(cnt)::BIGINT AS n_bytes_total,
         count(*)::BIGINT AS n_distinct_bytes
  FROM by GROUP BY source
),
axis AS (SELECT printf('%02X', i::INT) AS byte FROM unnest(range(256)) AS u(i)),
dense AS (
  SELECT t.source, t.n_bytes_total, t.n_distinct_bytes, a.byte,
         coalesce(b.cnt, 0)::BIGINT AS cnt
  FROM totals t CROSS JOIN axis a
  LEFT JOIN by b ON b.source = t.source AND b.byte = a.byte
)
SELECT source, n_bytes_total, n_distinct_bytes,
       (sum(abs(cnt * 256 - n_bytes_total)) * 125 // (n_bytes_total * 64))::BIGINT AS vd_milli
FROM dense GROUP BY source, n_bytes_total, n_distinct_bytes ORDER BY source
"""


SPECS = [
    QuerySpec("x_multimodal_decode", q_multimodal_decode, ORACLE_MULTIMODAL, tags=("llm", "multimodal")),
    QuerySpec("x_frame_explode", q_frame_explode, ORACLE_FRAME_EXPLODE,
              doc="video→frames fan-out: per-payload fixed-size slice explosion",
              tags=("llm", "multimodal")),
    QuerySpec("x_multimodal_pipeline", q_multimodal_pipeline, ORACLE_MULTIMODAL_PIPELINE, tags=("llm", "multimodal")),
    QuerySpec("x_signal_windows", q_signal_windows, ORACLE_SIGNAL_WINDOWS,
              doc="audio STFT-frame analog: overlapped windows + integer energy fold",
              tags=("llm", "multimodal")),
    QuerySpec("x_energy_segments", q_energy_segments, ORACLE_ENERGY_SEGMENTS,
              doc="VAD-style active-segment merge over signal frames (gaps-and-islands)",
              tags=("llm", "multimodal")),
    QuerySpec("x_frame_dedup", q_frame_dedup, ORACLE_FRAME_DEDUP,
              doc="per-source duplicate-frame rate over 32-byte payload frames (multimodal exact dedup)",
              tags=("llm", "multimodal")),
    QuerySpec("x_scene_cuts", q_scene_cuts, ORACLE_SCENE_CUTS,
              doc="scene-cut segmentation over the frame fan-out (keyed lag window, per-source rollup)",
              tags=("llm", "multimodal")),
    QuerySpec("x_frame_byte_flatness", q_frame_byte_flatness, ORACLE_FRAME_BYTE_FLATNESS,
              doc="per-source media byte-distribution flatness (TV from uniform, log-free) — stuck-sensor screen",
              tags=("llm", "multimodal")),
]
