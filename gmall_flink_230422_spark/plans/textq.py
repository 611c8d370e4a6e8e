"""Text quality, language-model and tokenizer queries over the
``documents`` table: token and vocabulary statistics, quality scores and
filters, language ID, PII and repetition screens, BPE training and
application, n-gram language models, term weighting, and the text-keyed
samplers (stratified, DSIR, CCNet buckets).

Each Spark pipeline has a semantically identical DuckDB oracle built on
the same portable md5-derived hash (functions.hashing) and the same
integer/floor grids, so even MinHash/SimHash signatures hash-match.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions import tokenize
from ..functions.hashing import portable_hash64, portable_hash64_sql
from ..io import load_table
from ..operators import dedup, text
from ..operators import retrieval as _retrieval
from ..operators.windows import distributed_cumsum
from . import QuerySpec
from .common import _BM25_TERMS, _docs_par, _EN_STOP_SQL, _MIX_RATES, _PHASH, _RAW_TOKS, _TOKS


def _bpe_trained(spark, sf_dir, n_merges: int = 3):
    """BPE training (text._bpe_train) over the corpus: x_bpe_train
    publishes the merge table and x_bpe_apply encodes the corpus with it.
    Returns (merges list, encoded-vocab frame); the vocab frame is cached
    so the merge folds run once per query."""
    merges, vocab = text._bpe_train(_docs_par(spark, sf_dir), n_merges)
    return merges, vocab.cache()


# ---------------------------------------------------------------- fingerprint
def q_fingerprint(spark, sf_dir):
    """Document fingerprinting: per-doc digest of normalized content."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", text.rolling_fingerprint(F.col("text")).alias("fp"))


ORACLE_FINGERPRINT = "SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents"


# ---------------------------------------------------------------- token stats
def q_token_stats(spark, sf_dir):
    """Token counting: whitespace tokens + BPE-ish (chars/4-per-token) estimate."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        text.token_count(F.col("text")).cast("bigint").alias("n_tokens"),
        text.approx_bpe_token_count(F.col("text")).alias("bpe_est"),
    )


ORACLE_TOKEN_STATS = rf"""
SELECT doc_id,
       len({_RAW_TOKS})::BIGINT AS n_tokens,
       coalesce(list_sum(list_transform({_RAW_TOKS}, t -> ceil(length(t) / 4.0)::BIGINT)), 0)::BIGINT AS bpe_est
FROM documents
"""


# ---------------------------------------------------------------- quality score
def q_quality(spark, sf_dir):
    """Quality scoring: length/stopword/alnum features + composite score."""
    d = load_table(spark, sf_dir, "documents")
    return text.quality_features(d)


ORACLE_QUALITY = rf"""
WITH f AS (
  SELECT doc_id,
         {_RAW_TOKS} AS toks,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) AS alnum_chars
  FROM documents
), m AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         CASE WHEN len(toks) > 0
              THEN coalesce(list_sum(list_transform(toks, t -> length(t))), 0) * 1.0 / len(toks)
              ELSE 0.0 END AS mean_tok_len,
         CASE WHEN len(toks) > 0
              THEN len(list_filter(toks, t -> list_contains({_EN_STOP_SQL}, t))) * 1.0 / len(toks)
              ELSE 0.0 END AS stop_ratio,
         CASE WHEN n_chars > 0 THEN alnum_chars * 1.0 / n_chars ELSE 0.0 END AS alnum_ratio
  FROM f
)
SELECT doc_id,
       n_tokens::BIGINT AS n_tokens,
       floor(mean_tok_len * 10000) / 10000 AS mean_tok_len,
       floor(stop_ratio * 10000) / 10000 AS stopword_ratio,
       floor(alnum_ratio * 10000) / 10000 AS alnum_ratio,
       floor((least(n_tokens / 100.0, 1.0) * 0.25
              + least(mean_tok_len / 8.0, 1.0) * 0.25
              + least(stop_ratio * 4, 1.0) * 0.25
              + alnum_ratio * 0.25) * 10000) / 10000 AS quality_score
FROM m
"""


# ---------------------------------------------------------------- language ID
def q_hash_split(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test split by portable id-hash
    bucket — stable under corpus growth, shuffle-free projection."""
    d = load_table(spark, sf_dir, "documents")
    return text.hash_split(d)


ORACLE_HASH_SPLIT = f"""
WITH b AS (
  SELECT doc_id,
         ({{h}}) % 1000 AS bucket
  FROM documents
)
SELECT doc_id, bucket,
       CASE WHEN bucket < 800 THEN 'train'
            WHEN bucket < 900 THEN 'val'
            ELSE 'test' END AS split
FROM b
""".format(h="(('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 15)))::BIGINT")


def q_lang_id(spark, sf_dir):
    """Language ID: stopword-vote heuristic; deterministic argmax."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", "lang", text.detect_language(F.col("text")).alias("pred_lang")
    )


def _lang_score_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in text.LANG_STOPWORDS[lang])
    return f"len(list_filter({_TOKS}, t -> list_contains([{words}], t)))"


_LANGS = sorted(text.LANG_STOPWORDS)  # de, en, es, fr, zh — the Spark loop order


ORACLE_LANG_ID = f"""
WITH s AS (
  SELECT doc_id, lang,
         {', '.join(f'{_lang_score_sql(lg)} AS s_{lg}' for lg in _LANGS)}
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN greatest({', '.join('s_' + lg for lg in _LANGS)}) <= 0 THEN 'und'
            {' '.join(f"WHEN s_{lg} = greatest({', '.join('s_' + l2 for l2 in _LANGS)}) THEN '{lg}'" for lg in _LANGS)}
       END AS pred_lang
FROM s
"""


# ---------------------------------------------------------------- vocabulary / n-gram stats
def q_vocab_topk(spark, sf_dir):
    """Corpus vocabulary build (BPE-prep stats): top-500 tokens by document
    frequency with term frequency alongside — one explode + one aggregate
    (partial/final map-side combine), distributed top-k via
    TakeOrderedAndProject, deterministic tie-break on the unique token.
    Integer-only: no float to diverge between engines."""
    d = _docs_par(spark, sf_dir)
    toks = d.select(
        "doc_id",
        F.explode(tokenize.whitespace_tokens(dedup.normalize_text(F.col("text")))).alias("token"),
    )
    return (
        toks.groupBy("token")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.count(F.lit(1)).alias("tf"),
        )
        .orderBy(F.col("df").desc(), F.col("token"))
        .limit(500)
    )


ORACLE_VOCAB_TOPK = f"""
WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS token FROM documents)
SELECT token, count(DISTINCT doc_id)::BIGINT AS df, count(*)::BIGINT AS tf
FROM toks GROUP BY 1
ORDER BY df DESC, token LIMIT 500
"""


def q_ngram_counts(spark, sf_dir):
    """Corpus bigram frequency table (LM/dedup corpus stats): distinct
    bigrams per doc (the shingle array expression — zero shuffle until the
    aggregate) counted across docs; top-300 by document frequency."""
    d = _docs_par(spark, sf_dir)
    sh = dedup.shingles(d, k=2)
    return (
        sh.groupBy(F.col("shingle").alias("bigram"))
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("df").desc(), F.col("bigram"))
        .limit(300)
    )


ORACLE_NGRAM_COUNTS = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS tok, generate_subscripts({_TOKS}, 1) AS pos
  FROM documents
),
grams AS (
  SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok AS bigram
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
)
SELECT bigram, count(*)::BIGINT AS df
FROM grams GROUP BY 1
ORDER BY df DESC, bigram LIMIT 300
"""


def q_cms_heavy_hitters(spark, sf_dir):
    """Count-min-sketch term-frequency estimation (corpus monitoring at
    100 TB: the 4×1024-cell grid is fixed-size mergeable state, so token
    frequencies stream into KBs of memory instead of a full vocab table).
    Top-20 exact tokens are probed against the sketch; cms_est >= exact_tf
    always (collision overcount only). Deterministic: same portable-hash
    universal family as MinHash, so DuckDB rebuilds the identical grid."""
    from ..operators import sketches

    d = _docs_par(spark, sf_dir)
    toks = d.select(
        F.explode(
            tokenize.whitespace_tokens(dedup.normalize_text(F.col("text")))
        ).alias("token")
    )
    sketch = sketches.cms_table(toks, F.col("token"))
    top = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_tf"))
        .orderBy(F.col("exact_tf").desc(), "token")
        .limit(20)
    )
    return sketches.cms_lookup(sketch, top, "token")


def _oracle_cms() -> str:
    from ..operators import sketches

    phash_tok = f"({_PHASH.format(x='token')} % 2147483647)"
    return f"""
WITH toks AS (SELECT unnest({_TOKS}) AS token FROM documents),
hb AS (SELECT {phash_tok} AS _hb FROM toks),
rows AS (SELECT unnest([0, 1, 2, 3]) AS cms_row),
cells AS (
  SELECT cms_row, {sketches.cms_col_sql("cms_row", "_hb")} AS cms_col,
         count(*)::BIGINT AS cms_count
  FROM hb CROSS JOIN rows GROUP BY 1, 2
),
top AS (
  SELECT token, count(*)::BIGINT AS exact_tf FROM toks
  GROUP BY 1 ORDER BY exact_tf DESC, token LIMIT 20
),
probes AS (
  SELECT token, exact_tf, cms_row,
         {sketches.cms_col_sql("cms_row", phash_tok)} AS cms_col
  FROM top CROSS JOIN rows
)
SELECT p.token, p.exact_tf, min(c.cms_count) AS cms_est
FROM probes p JOIN cells c ON p.cms_row = c.cms_row AND p.cms_col = c.cms_col
GROUP BY 1, 2
"""


def q_stratified_sample(spark, sf_dir):
    """Domain-mix sampling: per-language keep rates via deterministic salted
    id-hash buckets, with inverse-rate weights — map-side only."""
    d = load_table(spark, sf_dir, "documents")
    return text.stratified_sample(d, _MIX_RATES)


ORACLE_STRATIFIED = """
WITH s AS (
  SELECT doc_id, lang,
         (('0x' || substr(md5('sample:' || doc_id::VARCHAR), 1, 15)))::BIGINT % 10000
           AS bucket,
         CASE lang WHEN 'en' THEN 10000 WHEN 'de' THEN 5000 WHEN 'es' THEN 5000
                   WHEN 'fr' THEN 2500 WHEN 'zh' THEN 7500 ELSE 10000 END AS thr
  FROM documents
)
SELECT doc_id, lang, bucket::BIGINT AS bucket,
       floor((10000.0 / thr) * 10000) / 10000 AS weight
FROM s WHERE bucket < thr
"""


# ---------------------------------------------------------------- sequence packing
def q_seq_pack(spark, sf_dir):
    """Token bin-packing into 2048-token training sequences: hash-grouped,
    per-group running-sum packing (partitioned window — parallel groups)."""
    d = _docs_par(spark, sf_dir)
    return text.pack_sequences(d, budget=2048, n_groups=32)


ORACLE_SEQ_PACK = f"""
WITH b AS (
  SELECT doc_id,
         len({_RAW_TOKS})::BIGINT AS n_tokens,
         ((('0x' || substr(md5('pack:' || doc_id::VARCHAR), 1, 15)))::BIGINT % 32)::INT
           AS pack_group
  FROM documents
),
c AS (
  SELECT *, coalesce(sum(n_tokens) OVER (
      PARTITION BY pack_group ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM b
)
SELECT doc_id, pack_group, n_tokens,
       (cum // 2048)::BIGINT AS seq_idx,
       (cum % 2048)::BIGINT AS seq_offset
FROM c
"""


# ---------------------------------------------------------------- PII redaction
def q_pii_redact(spark, sf_dir):
    """PII scrub: deterministic synthetic PII (email/phone/IPv4 appended to
    id-keyed subsets — the fixture corpus has none) then count + redact with
    JVM-side regexes."""
    d = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(did % 5 == 0,
               F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com"))
               ).otherwise(F.lit("")),
        F.when(did % 7 == 0,
               F.concat(F.lit(" call 555-"), (did % 9000 + 1000).cast("string"))
               ).otherwise(F.lit("")),
        F.when(did % 11 == 0,
               F.concat(F.lit(" from 10."), (did % 254 + 1).cast("string"), F.lit(".0.1"))
               ).otherwise(F.lit("")),
    )
    return text.pii_redact(d.withColumn("text", aug))


ORACLE_PII = r"""
WITH aug AS (
  SELECT doc_id, text
    || CASE WHEN doc_id % 5 = 0 THEN ' contact user' || doc_id || '@example.com' ELSE '' END
    || CASE WHEN doc_id % 7 = 0 THEN ' call 555-' || (doc_id % 9000 + 1000) ELSE '' END
    || CASE WHEN doc_id % 11 = 0 THEN ' from 10.' || (doc_id % 254 + 1) || '.0.1' ELSE '' END
    AS text
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}'))::BIGINT AS n_email,
       len(regexp_extract_all(text, '\b555-\d{4}\b'))::BIGINT AS n_phone,
       len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT AS n_ipv4,
       regexp_replace(
         regexp_replace(
           regexp_replace(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
           '\b555-\d{4}\b', '<PHONE>', 'g'),
         '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS redacted,
       (len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}'))
        + len(regexp_extract_all(text, '\b555-\d{4}\b'))
        + len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')))::BIGINT AS n_pii
FROM aug
"""


# ---------------------------------------------------------------- repetition filter
def q_repetition_filter(spark, sf_dir):
    """Gopher-style repetition quality filter: word/bigram repetition
    fractions + mean word length + composite keep verdict."""
    d = _docs_par(spark, sf_dir)
    return text.repetition_features(d)


ORACLE_REPETITION = f"""
WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
wc AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
ws AS (
  SELECT doc_id, sum(c) AS n_words, max(c) AS top_word, count(*) AS n_distinct,
         sum(length(tok) * c) AS chars
  FROM wc GROUP BY 1
),
bt AS (
  SELECT doc_id, unnest({_TOKS}) AS tok, generate_subscripts({_TOKS}, 1) AS pos
  FROM documents
),
bg AS (
  SELECT doc_id, tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS b
  FROM bt QUALIFY b IS NOT NULL
),
bgc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
bgs AS (SELECT doc_id, sum(c) AS n_bg, max(c) AS top_bg FROM bgc GROUP BY 1),
m AS (
  SELECT w.doc_id,
         w.n_words::BIGINT AS n_words,
         floor(((w.n_words - w.n_distinct) * 1.0 / w.n_words) * 10000) / 10000 AS dup_word_frac,
         floor((w.top_word * 1.0 / w.n_words) * 10000) / 10000 AS top_word_frac,
         coalesce(floor((g.top_bg * 1.0 / g.n_bg) * 10000) / 10000, 0.0) AS top_bigram_frac,
         floor((w.chars * 1.0 / w.n_words) * 10000) / 10000 AS mean_word_len
  FROM ws w LEFT JOIN bgs g ON w.doc_id = g.doc_id
)
SELECT *,
       (dup_word_frac <= 0.8 AND top_word_frac <= 0.12 AND top_bigram_frac <= 0.08
        AND mean_word_len BETWEEN 3.0 AND 10.0) AS keep
FROM m
"""


def q_bpe_train(spark, sf_dir):
    """BPE merge learning (operators/text.bpe_train_merges, 3 merges): the
    tokenizer-training loop over the corpus word-frequency table; only the
    per-iteration argmax row touches the driver."""
    merges, _ = _bpe_trained(spark, sf_dir, n_merges=3)
    return spark.createDataFrame(
        merges, "step int, p1 string, p2 string, pair_count bigint"
    )


def _bpe_oracle(n_merges: int = 3) -> str:
    """DuckDB twin of bpe_train_merges: the greedy left-to-right merge fold
    is list_reduce with the accumulator encoded as a chr(1)-joined string —
    verified to match Spark's aggregate() fold element-for-element
    (including chained merges like 'a b a b' → 'ab ab')."""

    def _reduce(top: str) -> str:
        acc_list = "string_split(acc, chr(1))"
        return f"""string_split(list_reduce(s, (acc, x) ->
      CASE WHEN list_extract({acc_list}, len({acc_list})) = {top}.a AND x = {top}.b
           THEN CASE WHEN len({acc_list}) = 1 THEN {top}.a || {top}.b
                ELSE array_to_string(list_slice({acc_list}, 1, len({acc_list}) - 1), chr(1))
                     || chr(1) || {top}.a || {top}.b END
           ELSE acc || chr(1) || x END), chr(1))"""

    blocks = [
        f"""W AS (
  SELECT tok AS word, count(*)::BIGINT AS freq FROM (
    SELECT unnest({_TOKS}) AS tok FROM documents
  ) GROUP BY 1
),
rep0 AS (SELECT freq, string_split(word, '') AS s FROM W)"""
    ]
    selects = []
    for i in range(1, n_merges + 1):
        blocks.append(f"""pairs{i} AS (
  SELECT freq, s[i] AS a, s[i + 1] AS b
  FROM (SELECT freq, s, unnest(generate_series(1, len(s) - 1)) AS i FROM rep{i - 1})
),
top{i} AS (
  SELECT a, b, sum(freq)::BIGINT AS ct FROM pairs{i} GROUP BY 1, 2
  ORDER BY ct DESC, a, b LIMIT 1
)""")
        if i < n_merges:
            blocks.append(
                f"rep{i} AS (SELECT freq, {_reduce(f'top{i}')} AS s FROM rep{i - 1}, top{i})"
            )
        selects.append(
            f"SELECT {i} AS step, a AS p1, b AS p2, ct AS pair_count FROM top{i}"
        )
    return "WITH " + ",\n".join(blocks) + "\n" + "\nUNION ALL ".join(selects)


ORACLE_BPE_TRAIN = _bpe_oracle()


def q_lm_score(spark, sf_dir):
    """Bigram-LM perplexity-proxy quality scoring (operators/
    text.lm_surprisal_score): add-one-smoothed corpus bigram model, per-doc
    mean surprisal in integer milli-nats (order-independent aggregate)."""
    return text.lm_surprisal_score(_docs_par(spark, sf_dir))


ORACLE_LM_SCORE = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS tok, generate_subscripts({_TOKS}, 1) AS pos
  FROM documents
),
pairs AS (
  SELECT a.doc_id, a.tok AS w1, b.tok AS w2
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
uni AS (SELECT tok, count(*) AS c1 FROM toks GROUP BY 1),
bg AS (SELECT w1, w2, count(*) AS c2 FROM pairs GROUP BY 1, 2),
v AS (SELECT count(DISTINCT tok) AS vsz FROM toks),
scored AS (
  SELECT p.doc_id,
         floor(-ln((bg.c2 + 1.0) / (uni.c1 + v.vsz)) * 1000)::BIGINT AS s
  FROM pairs p
  JOIN bg ON p.w1 = bg.w1 AND p.w2 = bg.w2
  JOIN uni ON p.w1 = uni.tok
  CROSS JOIN v
),
agg AS (
  SELECT doc_id, count(*) AS n_bigrams, sum(s) AS ssum FROM scored GROUP BY 1
)
SELECT doc_id, n_bigrams,
       ((ssum * 10) // n_bigrams) / 10000.0 AS avg_surprisal
FROM agg
"""


def q_tfidf_topk(spark, sf_dir):
    """Per-document top-3 TF-IDF terms (operators/text.tfidf_top_terms):
    salience extraction for corpus curation. Three narrow shuffles — (doc,
    token) agg, df window on token, top-k window on doc — scalar N broadcast."""
    return text.tfidf_top_terms(_docs_par(spark, sf_dir), k=3)


ORACLE_TFIDF_TOPK = f"""
WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS token FROM documents),
tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
withdf AS (SELECT *, count(*) OVER (PARTITION BY token) AS df FROM tf),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, token, tf, df,
         floor(tf * ln(n_docs::DOUBLE / df) * 10000) / 10000 AS tfidf
  FROM withdf, n
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rk
  FROM scored
)
SELECT doc_id, token, tf::BIGINT AS tf, df::BIGINT AS df, tfidf
FROM ranked WHERE rk <= 3
"""


_BM25_K1 = 1.2


_BM25_B = 0.75


def q_bm25_rank(spark, sf_dir):
    """BM25 top-20 documents for a fixed 3-term query
    (operators/text.bm25_rank): tf/dl from the token array (zero shuffles),
    one broadcast scalar-stats aggregate, TakeOrdered top-k."""
    return text.bm25_rank(_docs_par(spark, sf_dir), _BM25_TERMS, k=20, k1=_BM25_K1, b=_BM25_B)


def _bm25_oracle() -> str:
    tf_cols = ",\n         ".join(
        f"len(list_filter({_TOKS}, t -> t = '{t}'))::BIGINT AS tf_{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_cols = ", ".join(
        f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(_BM25_TERMS))
    )
    k1, b = _BM25_K1, _BM25_B
    contrib = " + ".join(
        f"(ln(1.0 + (_n - df_{i} + 0.5) / (df_{i} + 0.5))"
        f" * (tf_{i} * ({k1} + 1)) / (tf_{i} + {k1} * (1 - {b} + {b} * dl / (_dl_sum::DOUBLE / _n))))"
        for i in range(len(_BM25_TERMS))
    )
    tf_sel = ", ".join(f"tf_{i}" for i in range(len(_BM25_TERMS)))
    return f"""
WITH base AS (
  SELECT doc_id, len({_TOKS})::BIGINT AS dl,
         {tf_cols}
  FROM documents
),
stats AS (SELECT count(*) AS _n, sum(dl) AS _dl_sum, {df_cols} FROM base)
SELECT doc_id, dl, {tf_sel},
       floor(({contrib}) * 10000) / 10000 AS bm25
FROM base, stats
ORDER BY bm25 DESC, doc_id LIMIT 20
"""


ORACLE_BM25 = _bm25_oracle()


# ---------------------------------------------------------------- DSIR importance resampling
def q_dsir_resample(spark, sf_dir):
    """DSIR-style importance resampling (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling", adapted to the repo's
    bigram-LM proxy): score every raw-pool document under (a) a model
    trained on the raw pool itself and (b) a model trained on the target
    split (doc_id % 17 == 0 — the benchmark-domain stand-in). The
    importance weight is the integer milli-nat log-likelihood-ratio
    ssum_raw − ssum_target (positive ⇒ the doc is more target-like than
    corpus-average); ``keep`` selects positive-weight docs. All-integer
    output — no float sums anywhere (repo parity rule). Scale shape: two
    model trainings (hash aggregates over the two pools), one scoring pass
    per model over the raw pool with natural-key joins; the target model
    tables are benchmark-sized and broadcastable at 100 TB. The corpus is
    TOKENIZED ONCE into a cached (doc_id, _toks) frame shared by both
    trainings and both scoring passes (re-tokenizing per role repeats the
    text scan 6 times; measured A/B in BENCHNOTES.md). At 100 TB the cache
    becomes a materialized token
    table — the same artifact, written instead of cached."""
    d = _docs_par(spark, sf_dir)
    toks = text.whitespace_tokens(text.normalize_text(F.col("text")))
    tokd = d.select("doc_id", toks.alias("_toks")).cache()
    train = tokd.filter(F.col("doc_id") % 17 != 0)
    target = tokd.filter(F.col("doc_id") % 17 == 0)
    raw = text.lm_crossentropy_components(train, train)
    tgt = text.lm_crossentropy_components(train, target).select(
        "doc_id", F.col("ssum").alias("ssum_target")
    )
    return (
        raw.select("doc_id", "n_bigrams", F.col("ssum").alias("ssum_raw"))
        .join(tgt, "doc_id")
        .withColumn("weight_milli", F.col("ssum_raw") - F.col("ssum_target"))
        .withColumn("keep", (F.col("weight_milli") > 0).cast("int"))
    )


ORACLE_DSIR = f"""
WITH d_toks AS (
  SELECT doc_id, unnest({_TOKS}) AS tok, generate_subscripts({_TOKS}, 1) AS pos
  FROM documents WHERE doc_id % 17 <> 0
),
d_pairs AS (
  SELECT a.doc_id, a.tok AS w1, b.tok AS w2
  FROM d_toks a JOIN d_toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
r_uni AS (SELECT tok, count(*) AS c1 FROM d_toks GROUP BY 1),
r_bg AS (SELECT w1, w2, count(*) AS c2 FROM d_pairs GROUP BY 1, 2),
r_v AS (SELECT count(*) AS vsz FROM r_uni),
t_toks AS (
  SELECT doc_id, unnest({_TOKS}) AS tok, generate_subscripts({_TOKS}, 1) AS pos
  FROM documents WHERE doc_id % 17 = 0
),
t_pairs AS (
  SELECT a.doc_id, a.tok AS w1, b.tok AS w2
  FROM t_toks a JOIN t_toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
t_uni AS (SELECT tok, count(*) AS c1 FROM t_toks GROUP BY 1),
t_bg AS (SELECT w1, w2, count(*) AS c2 FROM t_pairs GROUP BY 1, 2),
t_v AS (SELECT count(*) AS vsz FROM t_uni),
r_scored AS (
  SELECT p.doc_id,
         floor(-ln((coalesce(g.c2, 0) + 1.0) / (coalesce(u.c1, 0) + v.vsz)) * 1000)::BIGINT AS s
  FROM d_pairs p
  LEFT JOIN r_bg g ON p.w1 = g.w1 AND p.w2 = g.w2
  LEFT JOIN r_uni u ON p.w1 = u.tok
  CROSS JOIN r_v v
),
t_scored AS (
  SELECT p.doc_id,
         floor(-ln((coalesce(g.c2, 0) + 1.0) / (coalesce(u.c1, 0) + v.vsz)) * 1000)::BIGINT AS s
  FROM d_pairs p
  LEFT JOIN t_bg g ON p.w1 = g.w1 AND p.w2 = g.w2
  LEFT JOIN t_uni u ON p.w1 = u.tok
  CROSS JOIN t_v v
),
r_agg AS (SELECT doc_id, count(*) AS nb, sum(s) AS ss FROM r_scored GROUP BY 1),
t_agg AS (SELECT doc_id, sum(s) AS ss FROM t_scored GROUP BY 1)
SELECT r.doc_id, r.nb::BIGINT AS n_bigrams, r.ss::BIGINT AS ssum_raw,
       t.ss::BIGINT AS ssum_target,
       (r.ss - t.ss)::BIGINT AS weight_milli,
       CASE WHEN r.ss - t.ss > 0 THEN 1 ELSE 0 END AS keep
FROM r_agg r JOIN t_agg t ON r.doc_id = t.doc_id
"""


# ------------------------------------------------- quality classifier (frozen)
def q_quality_classifier(spark, sf_dir):
    """Fixed-weight linear quality classifier on the integer milli-grid —
    the model-based (fasttext-style) corpus filter stage; map-only pass."""
    return text.quality_classifier(_docs_par(spark, sf_dir))


ORACLE_QUALITY_CLASSIFIER = rf"""
WITH f AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), m AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         len(list_distinct(toks)) AS n_distinct,
         len(list_filter(toks, t -> list_contains({_EN_STOP_SQL}, t))) AS stop_hits
  FROM f
), g AS (
  SELECT doc_id, n_tokens,
         (CASE WHEN n_tokens > 0 THEN floor(1000 * n_distinct * 1.0 / n_tokens) ELSE 0 END)::BIGINT AS ttr_milli,
         (CASE WHEN n_tokens > 0 THEN floor(1000 * stop_hits * 1.0 / n_tokens) ELSE 0 END)::BIGINT AS stop_milli
  FROM m
), l AS (
  SELECT doc_id, n_tokens::BIGINT AS n_tokens, ttr_milli, stop_milli,
         (-1100 + 10 * least(n_tokens, 100) + 2 * stop_milli + ttr_milli)::BIGINT AS logit_milli
  FROM g
)
SELECT doc_id, n_tokens, ttr_milli, stop_milli, logit_milli,
       logit_milli >= 0 AS keep,
       CASE WHEN logit_milli < 0 THEN 'reject'
            WHEN logit_milli < 100 THEN 'low'
            WHEN logit_milli < 200 THEN 'mid'
            ELSE 'high' END AS quality_band
FROM l
"""


# ---------------------------------------------------------- feature hashing
def q_feature_hash(spark, sf_dir):
    """Hashing-trick doc vectors: sparse (doc_id, bucket, weight) rows from
    two independent portable hashes — vocabulary-free embedding, one explode
    + one hash aggregate."""
    return text.feature_hash_vectors(_docs_par(spark, sf_dir))


_FH_HASH = "(('0x' || substr(md5('fh:' || tok), 1, 15)))::BIGINT"


_FHS_HASH = "(('0x' || substr(md5('fhs:' || tok), 1, 15)))::BIGINT"


ORACLE_FEATURE_HASH = rf"""
WITH t AS (
  SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
), h AS (
  SELECT doc_id,
         ({_FH_HASH} % 16)::INT AS bucket,
         CASE WHEN {_FHS_HASH} % 2 = 0 THEN 1 ELSE -1 END AS s
  FROM t
)
SELECT doc_id, bucket, sum(s)::BIGINT AS weight
FROM h GROUP BY doc_id, bucket
"""


# ----------------------------------------------------------- shard manifest
def q_shard_manifest(spark, sf_dir):
    """Training-shard manifest: deterministic hash assignment of docs to 64
    output shards plus per-shard row/token/byte totals — the manifest a
    training loader consumes. Hash sharding is the scale answer (greedy
    bin-packing is inherently sequential): with millions of docs per shard
    the hash balance is within fractions of a percent, and assignment is a
    pure projection — no shuffle until the one manifest aggregate."""

    d = _docs_par(spark, sf_dir)
    shard = F.pmod(
        portable_hash64(F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))),
        F.lit(64),
    ).cast("int")
    toks = F.size(tokenize.whitespace_tokens(F.col("text")))
    return (
        d.select(
            shard.alias("shard"),
            toks.cast("bigint").alias("_t"),
            F.length("text").cast("bigint").alias("_b"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_t").alias("token_sum"),
            F.sum("_b").alias("byte_sum"),
        )
    )


ORACLE_SHARD_MANIFEST = rf"""
WITH t AS (
  SELECT (('0x' || substr(md5('shard:' || doc_id::VARCHAR), 1, 15))::BIGINT % 64)::INT AS shard,
         len({_RAW_TOKS})::BIGINT AS toks,
         length(text)::BIGINT AS bytes
  FROM documents
)
SELECT shard, count(*) AS n_docs, sum(toks)::BIGINT AS token_sum,
       sum(bytes)::BIGINT AS byte_sum
FROM t GROUP BY shard
"""


# ------------------------------------------------- CCNet perplexity buckets
def q_ccnet_bucket(spark, sf_dir):
    """CCNet-style perplexity bucketing: split the corpus into head/middle/
    tail terciles by bigram-LM surprisal (the published CCNet pipeline keeps
    'head', samples 'middle', drops 'tail'). Tercile thresholds come from a
    VALUE HISTOGRAM of the 1e-4-grid scores (bounded distinct values — the
    cumulative sum never sees raw rows), then broadcast back for the
    bucket tag. Per-bucket count + score range, all grid-exact. The
    cumulative sum is distributed_cumsum (range-partition + keyed window +
    broadcast prefix offsets) — no single-partition exchange, unlike an
    unpartitioned Window.orderBy."""
    scores = text.lm_surprisal_score(_docs_par(spark, sf_dir)).select(
        "doc_id", "avg_surprisal"
    )
    hist = scores.groupBy("avg_surprisal").agg(F.count(F.lit(1)).alias("cnt"))
    cum = distributed_cumsum(hist, ["avg_surprisal"], "cnt", "cum")
    tot = cum.agg(F.sum("cnt").alias("n"))
    thr = cum.join(F.broadcast(tot)).agg(
        F.min(F.when(F.col("cum") * 3 >= F.col("n"), F.col("avg_surprisal"))).alias("t1"),
        F.min(F.when(F.col("cum") * 3 >= 2 * F.col("n"), F.col("avg_surprisal"))).alias("t2"),
    )
    tagged = scores.join(F.broadcast(thr)).select(
        F.when(F.col("avg_surprisal") <= F.col("t1"), F.lit("head"))
        .when(F.col("avg_surprisal") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
        "avg_surprisal",
    )
    return tagged.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("avg_surprisal").alias("min_surprisal"),
        F.max("avg_surprisal").alias("max_surprisal"),
    )


ORACLE_CCNET_BUCKET = f"""
WITH scores AS ({ORACLE_LM_SCORE}),
hist AS (SELECT avg_surprisal, count(*) AS cnt FROM scores GROUP BY 1),
cum AS (
  SELECT avg_surprisal, cnt, sum(cnt) OVER (ORDER BY avg_surprisal) AS cum
  FROM hist
),
tot AS (SELECT sum(cnt) AS n FROM hist),
thr AS (
  SELECT min(CASE WHEN c.cum * 3 >= t.n THEN c.avg_surprisal END) AS t1,
         min(CASE WHEN c.cum * 3 >= 2 * t.n THEN c.avg_surprisal END) AS t2
  FROM cum c CROSS JOIN tot t
)
SELECT CASE WHEN s.avg_surprisal <= thr.t1 THEN 'head'
            WHEN s.avg_surprisal <= thr.t2 THEN 'middle'
            ELSE 'tail' END AS bucket,
       count(*)::BIGINT AS n_docs,
       min(s.avg_surprisal) AS min_surprisal,
       max(s.avg_surprisal) AS max_surprisal
FROM scores s CROSS JOIN thr
GROUP BY 1
"""


# ---------------------------------------------------- PMI collocations
def q_pmi_collocations(spark, sf_dir):
    """Top-100 collocations by PMI (operators/retrieval.pmi_bigrams) — the
    vocabulary-construction signal for multi-word tokens. Bigram arrays are
    built per-row with higher-order functions (zero shuffle until the
    counts); unigram/total stats broadcast into the scorer."""
    return _retrieval.pmi_bigrams(_docs_par(spark, sf_dir), min_count=5, k=100)


ORACLE_PMI = _retrieval.pmi_oracle_sql(min_count=5, k=100, toks_expr=_TOKS)


# ---------------------------------------------------- RAG chunking
_RC_WIN = 64


_RC_HOP = 32


def q_rag_chunks(spark, sf_dir):
    """RAG chunk extraction: overlapping 64-token windows at 32-token hop
    per document, each chunk fingerprinted (portable hash of its joined
    text) for downstream chunk-level dedup/embedding. Pure array
    expressions — sequence → explode → slice — entirely JVM-side and
    partition-local, the text analog of the x_signal_windows audio frames
    (and the overlapping counterpart of x_chunk_dedup's disjoint chunks)."""
    d = _docs_par(spark, sf_dir)
    toks = tokenize.whitespace_tokens(dedup.normalize_text(F.col("text")))
    base = d.select(
        "doc_id", toks.alias("toks"), F.size(toks).cast("long").alias("n_toks")
    ).filter(F.col("n_toks") >= _RC_WIN)
    n_chunks = (F.floor((F.col("n_toks") - _RC_WIN) / _RC_HOP) + 1).cast("long")
    chunks = base.select(
        "doc_id", "toks",
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias("chunk_idx"),
    )
    chunk_text = F.array_join(
        F.slice(F.col("toks"), (F.col("chunk_idx") * _RC_HOP + 1).cast("int"), _RC_WIN), " "
    )
    return chunks.select(
        "doc_id",
        "chunk_idx",
        (F.col("chunk_idx") * _RC_HOP + 1).alias("start_tok"),
        portable_hash64(chunk_text).alias("chunk_hash"),
    )


ORACLE_RAG_CHUNKS = rf"""
WITH base AS (
  SELECT doc_id, {_TOKS} AS toks, len({_TOKS})::BIGINT AS n_toks
  FROM documents
),
c AS (
  SELECT doc_id, toks,
         unnest(range(0, ((n_toks - {_RC_WIN}) // {_RC_HOP}) + 1)) AS chunk_idx
  FROM base WHERE n_toks >= {_RC_WIN}
)
SELECT doc_id, chunk_idx, chunk_idx * {_RC_HOP} + 1 AS start_tok,
       (('0x' || substr(md5(array_to_string(
          toks[(chunk_idx * {_RC_HOP} + 1)::INT : (chunk_idx * {_RC_HOP} + {_RC_WIN})::INT], ' ')), 1, 15)))::BIGINT AS chunk_hash
FROM c
"""


# ---------------------------------------------------- BPE apply (encode)
def q_bpe_apply(spark, sf_dir):
    """Tokenizer apply at corpus scale (operators/text.bpe_encoded_length):
    encode every doc with the 3 learned merges — the encoded VOCABULARY
    joins back to the corpus token stream (Heaps-law small side), never a
    per-corpus-token fold. Output: per-doc raw vs encoded symbol counts."""
    _, vocab = _bpe_trained(spark, sf_dir, n_merges=3)
    return text.bpe_encoded_length_with_vocab(_docs_par(spark, sf_dir), vocab)


def _bpe_apply_oracle(n_merges: int = 3) -> str:
    """DuckDB twin of bpe_encoded_length: the training CTE chain with the
    word column carried through every fold, ending in a vocab join back to
    the per-doc token stream."""

    def _reduce(top: str) -> str:
        acc_list = "string_split(acc, chr(1))"
        return f"""string_split(list_reduce(s, (acc, x) ->
      CASE WHEN list_extract({acc_list}, len({acc_list})) = {top}.a AND x = {top}.b
           THEN CASE WHEN len({acc_list}) = 1 THEN {top}.a || {top}.b
                ELSE array_to_string(list_slice({acc_list}, 1, len({acc_list}) - 1), chr(1))
                     || chr(1) || {top}.a || {top}.b END
           ELSE acc || chr(1) || x END), chr(1))"""

    blocks = [
        f"""W AS (
  SELECT tok AS word, count(*)::BIGINT AS freq FROM (
    SELECT unnest({_TOKS}) AS tok FROM documents
  ) GROUP BY 1
),
rep0 AS (SELECT word, freq, string_split(word, '') AS s FROM W)"""
    ]
    for i in range(1, n_merges + 1):
        blocks.append(f"""pairs{i} AS (
  SELECT freq, s[i] AS a, s[i + 1] AS b
  FROM (SELECT freq, s, unnest(generate_series(1, len(s) - 1)) AS i FROM rep{i - 1})
),
top{i} AS (
  SELECT a, b, sum(freq)::BIGINT AS ct FROM pairs{i} GROUP BY 1, 2
  ORDER BY ct DESC, a, b LIMIT 1
)""")
        blocks.append(
            f"rep{i} AS (SELECT word, freq, {_reduce(f'top{i}')} AS s FROM rep{i - 1}, top{i})"
        )
    blocks.append(f"""enc AS (
  SELECT word, length(word)::BIGINT AS n_raw, len(s)::BIGINT AS n_sym
  FROM rep{n_merges}
),
corpus AS (SELECT doc_id, unnest({_TOKS}) AS word FROM documents)""")
    return (
        "WITH " + ",\n".join(blocks)
        + """
SELECT doc_id, count(*)::BIGINT AS n_tokens,
       sum(e.n_raw)::BIGINT AS n_sym_raw,
       sum(e.n_sym)::BIGINT AS n_sym_enc
FROM corpus c JOIN enc e USING (word)
GROUP BY doc_id"""
    )


ORACLE_BPE_APPLY = _bpe_apply_oracle()


# ------------------------------------------------ n-gram diversity score
def q_ngram_diversity(spark, sf_dir):
    """Corpus diversity audit (the anti-mode-collapse gauge for synthetic
    data): per source, distinct trigrams / total trigrams on the 1e-4 grid.
    Degenerate repetitive corpora score near 0, diverse ones near 1. Two
    narrow aggregates — trigram spans stay inside the per-row array until
    the count."""
    d = _docs_par(spark, sf_dir)
    toks = tokenize.whitespace_tokens(dedup.normalize_text(F.col("text")))
    tri = F.expr(
        "filter(transform(toks, (t, i) -> IF(i + 2 < size(toks),"
        " concat(t, ' ', element_at(toks, i + 2), ' ', element_at(toks, i + 3)),"
        " NULL)), x -> x IS NOT NULL)"
    )
    rows = d.select("source", toks.alias("toks")).select(
        "source", F.explode(tri).alias("tri")
    )
    agg = rows.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_trigrams"),
        F.countDistinct("tri").alias("n_distinct"),
    )
    return agg.select(
        "source", "n_trigrams", "n_distinct",
        (F.expr("(n_distinct * 10000) div n_trigrams") / 1e4).alias("diversity"),
    )


ORACLE_NGRAM_DIVERSITY = rf"""
WITH toks AS (
  SELECT source, doc_id, unnest({_TOKS}) AS tok,
         generate_subscripts({_TOKS}, 1) AS pos
  FROM documents
),
tri AS (
  SELECT source,
         tok || ' ' || lead(tok) OVER w || ' ' || lead(tok, 2) OVER w AS tri
  FROM toks
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY lead(tok, 2) OVER w IS NOT NULL
)
SELECT source, count(*)::BIGINT AS n_trigrams,
       count(DISTINCT tri)::BIGINT AS n_distinct,
       ((count(DISTINCT tri) * 10000) // count(*)) / 1e4 AS diversity
FROM tri GROUP BY 1
"""


def q_boilerplate(spark, sf_dir):
    """Boilerplate-prefix flags: docs opening with a 2-token normalized
    prefix shared by >=2 docs of the same source (per-domain header
    detection; one (source, prefix) hash agg + co-partitioned join back)."""
    d = _docs_par(spark, sf_dir)
    return text.boilerplate_prefixes(d, n_tokens=2, min_docs=2)


ORACLE_BOILERPLATE = f"""
WITH p AS (
  SELECT doc_id, source,
         array_to_string(({_TOKS})[1:2], ' ') AS prefix
  FROM documents
),
c AS (
  SELECT source, prefix, count(*) AS n_docs
  FROM p GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT p.doc_id, p.source, p.prefix, c.n_docs
FROM p JOIN c ON p.source = c.source AND p.prefix = c.prefix
"""


# ---------------------------------------------------------------- stupid-backoff trigram LM
def q_backoff_lm(spark, sf_dir):
    """Stupid-Backoff trigram scoring of the ~10% held-out hash split
    against counts from the ~90% complement (operators/
    text.backoff_trigram_score) — the held-out LM-quality eval where the
    backoff branches genuinely fire, complementing the self-scored bigram
    surprisal (x_lm_score). Integer 1e-6-grid scores, order-independent
    BIGINT sums."""
    return text.backoff_trigram_score(_docs_par(spark, sf_dir))


_LM_SPLIT_HASH = portable_hash64_sql("'lmsplit:' || doc_id::VARCHAR")


ORACLE_BACKOFF_LM = f"""
WITH d AS (
  SELECT doc_id, {_TOKS} AS toks, (({_LM_SPLIT_HASH} % 1000) < 100) AS held
  FROM documents
),
toks AS (
  SELECT doc_id, held, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos
  FROM d
),
tr3 AS (
  SELECT a.doc_id, a.held, a.tok AS w1, b.tok AS w2, c.tok AS w3
  FROM toks a
  JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
),
c3 AS (SELECT w1, w2, w3, count(*) AS c3 FROM tr3 WHERE NOT held GROUP BY 1, 2, 3),
bg AS (
  SELECT a.tok AS w1, b.tok AS w2
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  WHERE NOT a.held
),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
c1 AS (SELECT tok AS w, count(*) AS c1 FROM toks WHERE NOT held GROUP BY 1),
n AS (SELECT count(*) AS n_train FROM toks WHERE NOT held),
scored AS (
  SELECT t.doc_id,
         CASE WHEN c3.c3 IS NOT NULL THEN (1000000 * c3.c3) // cctx.c2
              WHEN cbg.c2 IS NOT NULL THEN (400000 * cbg.c2) // c1w2.c1
              ELSE (160000 * coalesce(c1w3.c1, 0)) // n.n_train END AS s
  FROM tr3 t
  LEFT JOIN c3 ON t.w1 = c3.w1 AND t.w2 = c3.w2 AND t.w3 = c3.w3
  LEFT JOIN c2 cctx ON t.w1 = cctx.w1 AND t.w2 = cctx.w2
  LEFT JOIN c2 cbg ON t.w2 = cbg.w1 AND t.w3 = cbg.w2
  LEFT JOIN c1 c1w2 ON t.w2 = c1w2.w
  LEFT JOIN c1 c1w3 ON t.w3 = c1w3.w
  CROSS JOIN n
  WHERE t.held
)
SELECT doc_id, count(*)::BIGINT AS n_trigrams, sum(s)::BIGINT AS sum_score_micro,
       (sum(s) // count(*))::BIGINT AS avg_score_micro
FROM scored GROUP BY 1
"""


# ---------------------------------------------------------------- curriculum ordering
def q_curriculum_order(spark, sf_dir):
    """Curriculum phase assignment (operators/text.curriculum_phases):
    warmup/main/anneal by cumulative token budget over the quality-logit
    grid — the corpus is never globally sorted; the cum-sweep runs on the
    bounded per-logit histogram and phases broadcast back."""
    return text.curriculum_phases(_docs_par(spark, sf_dir))


ORACLE_CURRICULUM_ORDER = f"""
WITH cls AS ({ORACLE_QUALITY_CLASSIFIER}),
feats AS (SELECT doc_id, n_tokens, logit_milli FROM cls),
hist AS (SELECT logit_milli, sum(n_tokens) AS bt FROM feats GROUP BY 1),
cum AS (
  SELECT logit_milli, sum(bt) OVER (ORDER BY logit_milli DESC) AS ct FROM hist
),
tot AS (SELECT sum(bt) AS t FROM hist),
ph AS (
  SELECT logit_milli,
         CASE WHEN ct * 100 <= t * 20 THEN 'warmup'
              WHEN ct * 100 <= t * 80 THEN 'main'
              ELSE 'anneal' END AS phase
  FROM cum, tot
)
SELECT f.doc_id, f.logit_milli, f.n_tokens, ph.phase
FROM feats f JOIN ph USING (logit_milli)
"""


# ---------------------------------------------------------------- tokenizer fertility
def q_token_fertility(spark, sf_dir):
    """Per-language tokenizer fertility: docs, tokens, token characters,
    chars-per-token and tokens-per-doc on integer milli-grids — the
    pre-training budget planner's table (how many tokens a language's
    bytes buy). Pure projection + one hash agg; map-only at 100 TB.
    The chars-per-token denominator is guarded (a language bucket whose
    docs are all whitespace has n_tokens = 0 — defined 0 instead of
    NULL-vs-error divergence; same convention as x_classifier_auc)."""
    d = _docs_par(spark, sf_dir)
    toks = tokenize.whitespace_tokens(F.lower(F.trim(F.col("text"))))
    per = d.select(
        "lang",
        F.size(toks).alias("_nt"),
        F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)).alias(
            "_tc"
        ),
    )
    agg = per.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_nt").alias("n_tokens"),
        F.sum("_tc").alias("tok_chars"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "n_tokens",
        "tok_chars",
        F.expr(
            "CAST((tok_chars * 1000) DIV greatest(n_tokens, 1) AS BIGINT)"
        ).alias("chars_per_tok_milli"),
        F.expr("CAST((n_tokens * 1000) DIV n_docs AS BIGINT)").alias(
            "toks_per_doc_milli"
        ),
    )


ORACLE_TOKEN_FERTILITY = f"""
WITH per AS (
  -- tc from the SAME token list as nt (summed token lengths), not a
  -- replace(' ','') char count: the two differ the moment text carries
  -- a tab / newline / doubled space (r4 ADVICE — the old form only
  -- matched because fixture text is single-spaced)
  SELECT lang, len({_TOKS}) AS nt,
         coalesce(list_sum(list_transform({_TOKS}, t -> len(t))), 0) AS tc
  FROM documents
),
agg AS (
  SELECT lang, count(*) AS n_docs, sum(nt) AS n_tokens, sum(tc) AS tok_chars
  FROM per GROUP BY 1
)
SELECT lang, n_docs::BIGINT AS n_docs, n_tokens::BIGINT AS n_tokens,
       tok_chars::BIGINT AS tok_chars,
       ((tok_chars * 1000) // greatest(n_tokens, 1))::BIGINT AS chars_per_tok_milli,
       ((n_tokens * 1000) // n_docs)::BIGINT AS toks_per_doc_milli
FROM agg
"""


def q_chi2_terms(spark, sf_dir):
    """Chi-square term selection: the tokens whose document frequency most
    discriminates English from non-English docs (the feature-selection
    pass that seeds a fasttext-style filter's vocabulary, or flags
    label-leaking boilerplate).  Presence-based 2x2 contingency per token:
    n11/n10 = en / non-en docs containing it, margins from a broadcast
    1-row totals frame.

    Scale shape: one distinct (doc, token) explode (Heaps-sublinear
    vocabulary), one hash-agg to per-token counts, broadcast scalar
    totals, and a distributed TakeOrdered top-50 — no global sort, no
    single-partition exchange over data.  The chi2 statistic itself runs
    in DOUBLE on exact BIGINT counts with an identical expression tree on
    both engines: every op (*, -, /) is IEEE correctly rounded, so the
    milli-floor is engine-stable (same argument class as x_weighted_sample,
    pinned by the boundary reasoning in its docstring)."""
    d = _docs_par(spark, sf_dir)
    toks = d.select(
        "doc_id",
        (F.col("lang") == "en").alias("is_pos"),
        F.explode(
            F.array_distinct(tokenize.whitespace_tokens(dedup.normalize_text(F.col("text"))))
        ).alias("token"),
    )
    per_tok = toks.groupBy("token").agg(
        F.sum(F.when(F.col("is_pos"), 1).otherwise(0)).cast("bigint").alias("n11"),
        F.sum(F.when(F.col("is_pos"), 0).otherwise(1)).cast("bigint").alias("n10"),
    )
    totals = d.agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(F.col("lang") == "en", 0).otherwise(1)).cast("bigint").alias("n0"),
    )
    scored = (
        per_tok.crossJoin(F.broadcast(totals))
        .withColumn("n01", F.col("n1") - F.col("n11"))
        .withColumn("n00", F.col("n0") - F.col("n10"))
        .filter((F.col("n11") + F.col("n10")) >= 5)
        .withColumn(
            "chi2_milli",
            F.expr(
                """CAST(floor(
                     1000.0 * (n1 + n0)
                     * (CAST(n11 AS DOUBLE) * n00 - CAST(n10 AS DOUBLE) * n01)
                     * (CAST(n11 AS DOUBLE) * n00 - CAST(n10 AS DOUBLE) * n01)
                     / (CAST(n1 AS DOUBLE) * n0 * (n11 + n10) * (n01 + n00))
                   ) AS BIGINT)"""
            ),
        )
    )
    return (
        scored.select("token", "n11", "n10", "chi2_milli")
        .orderBy(F.desc("chi2_milli"), "token")
        .limit(50)
    )


ORACLE_CHI2_TERMS = rf"""
WITH toks AS (
  SELECT doc_id, (lang = 'en') AS is_pos, unnest(list_distinct({_TOKS})) AS token
  FROM documents
),
per_tok AS (
  SELECT token,
         sum(CASE WHEN is_pos THEN 1 ELSE 0 END)::BIGINT AS n11,
         sum(CASE WHEN is_pos THEN 0 ELSE 1 END)::BIGINT AS n10
  FROM toks GROUP BY 1
),
totals AS (
  SELECT sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS n1,
         sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)::BIGINT AS n0
  FROM documents
),
scored AS (
  SELECT token, n11, n10,
         floor(
           1000.0 * (n1 + n0)
           * (n11::DOUBLE * (n0 - n10) - n10::DOUBLE * (n1 - n11))
           * (n11::DOUBLE * (n0 - n10) - n10::DOUBLE * (n1 - n11))
           / (n1::DOUBLE * n0 * (n11 + n10) * ((n1 - n11) + (n0 - n10)))
         )::BIGINT AS chi2_milli
  FROM per_tok, totals
  WHERE n11 + n10 >= 5
)
SELECT token, n11, n10, chi2_milli
FROM scored ORDER BY chi2_milli DESC, token LIMIT 50
"""


# ------------------------------------------------- span corruption (T5)
def q_span_corruption(spark, sf_dir):
    """Denoising-objective target generation (T5/UL2 span corruption):
    deterministic hash-chosen token spans are cut out of each document,
    the input keeps one sentinel token per span, and the target pairs
    each sentinel with the masked content — the (input_text, target_text)
    pair generator of a seq2seq pre-training pipeline, as a pure
    DataFrame program.

    Mechanics: tokens partition into 3-token blocks; block b of doc d is
    masked iff pmod(hash('span:d:b'), 1000) < 150 (≈15% corruption rate,
    mean span 3 — both engines derive identical masks from the portable
    hash).  Span index k = count of masked blocks strictly before b (a
    KEYED window per doc over the per-block frame).  Reassembly is one
    sort-key trick: input pieces keep key 2·pos (sentinel replaces the
    block's first token), target pieces interleave sentinels at 2·pos−1
    with masked tokens at 2·pos; array_sort + filter + concat_ws emits
    both strings in one hash-agg per doc.

    Scale shape: explode → two hash-aggs (block frame, doc reassembly)
    + one keyed window, all partitioned by doc_id; no global sort, no
    UDFs — string surgery entirely in whole-stage codegen."""
    from pyspark.sql import Window

    d = _docs_par(spark, sf_dir)
    toks = d.select(
        "doc_id",
        F.posexplode(
            tokenize.whitespace_tokens(dedup.normalize_text(F.col("text")))
        ).alias("pos", "token"),
    ).withColumn("block", F.expr("pos DIV 3"))

    blocks = (
        toks.groupBy("doc_id", "block")
        .agg(F.count(F.lit(1)).alias("_bn"))
        .withColumn(
            "masked",
            F.pmod(
                portable_hash64(
                    F.concat_ws(":", F.lit("span"), "doc_id", "block")
                ),
                F.lit(1000),
            )
            < 150,
        )
        .withColumn(
            "k",
            F.coalesce(
                F.sum(F.col("masked").cast("long")).over(
                    Window.partitionBy("doc_id")
                    .orderBy("block")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
    )
    pieces = (
        toks.join(blocks.select("doc_id", "block", "masked", "k"), ["doc_id", "block"])
        .select(
            "doc_id",
            "pos",
            "token",
            "masked",
            (F.col("pos") % 3 == 0).alias("is_first"),
            F.concat(F.lit("<extra_id_"), F.col("k"), F.lit(">")).alias("sent"),
        )
    ).cache()  # three union branches consume pieces; uncached, each branch
    # re-runs the explode + block window + join from the text scan (repeat
    # 6); cached, one materialization feeds all three. Measured A/B in
    # BENCHNOTES.md. At 100 TB: a materialized shard table.
    inp = pieces.filter(~F.col("masked") | F.col("is_first")).select(
        "doc_id",
        (F.col("pos") * 2).alias("key"),
        F.when(~F.col("masked"), F.col("token")).otherwise(F.col("sent")).alias(
            "piece"
        ),
        F.lit("i").alias("side"),
    )
    tgt_tok = pieces.filter("masked").select(
        "doc_id",
        (F.col("pos") * 2).alias("key"),
        F.col("token").alias("piece"),
        F.lit("t").alias("side"),
    )
    tgt_sent = pieces.filter(F.col("masked") & F.col("is_first")).select(
        "doc_id",
        (F.col("pos") * 2 - 1).alias("key"),
        F.col("sent").alias("piece"),
        F.lit("s").alias("side"),
    )

    # ONE aggregation for both strings and the span count — assembling the
    # three piece kinds in a single keyed hash-agg avoids re-shuffling the
    # token stream three times and sidesteps joining three aggregates of
    # shared lineage (which Spark 4.1 mis-planned under AQE: the unioned
    # aggregate emitted per-branch rows when its output fed a multi-join;
    # one terminal agg has no such ambiguity and is the better 100 TB plan
    # anyway: one shuffle on doc_id total).
    def _side(ps, which):
        return F.concat_ws(
            " ",
            F.transform(
                F.filter(ps, lambda x: x["side"].isin(list(which))),
                lambda x: x["piece"],
            ),
        )

    allp = inp.unionByName(tgt_tok).unionByName(tgt_sent)
    ps = F.array_sort(F.collect_list(F.struct("key", "side", "piece")))
    return (
        allp.groupBy("doc_id")
        .agg(ps.alias("_ps"))
        .select(
            "doc_id",
            _side(F.col("_ps"), ("i",)).alias("input_text"),
            _side(F.col("_ps"), ("t", "s")).alias("target_text"),
            F.size(F.filter(F.col("_ps"), lambda x: x["side"] == "s"))
            .cast("long")
            .alias("n_spans"),
        )
    )


_SPAN_PHASH = _PHASH.format(x="('span:' || doc_id::VARCHAR || ':' || block::VARCHAR)")


ORACLE_SPAN_CORRUPTION = rf"""
WITH toks AS (
  SELECT doc_id, (generate_subscripts(t, 1) - 1)::BIGINT AS pos,
         unnest(t) AS token
  FROM (SELECT doc_id, {_TOKS} AS t FROM documents)
),
tb AS (SELECT doc_id, pos, token, (pos // 3)::BIGINT AS block FROM toks),
blocks AS (
  SELECT doc_id, block,
         (({_SPAN_PHASH} % 1000) < 150) AS masked
  FROM (SELECT DISTINCT doc_id, block FROM tb)
),
kb AS (
  SELECT doc_id, block, masked,
         coalesce(sum(CASE WHEN masked THEN 1 ELSE 0 END) OVER (
           PARTITION BY doc_id ORDER BY block
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS k
  FROM blocks
),
pieces AS (
  SELECT t.doc_id, t.pos, t.token, b.masked, (t.pos % 3 = 0) AS is_first,
         '<extra_id_' || b.k::VARCHAR || '>' AS sent
  FROM tb t JOIN kb b ON t.doc_id = b.doc_id AND t.block = b.block
),
inp AS (
  SELECT doc_id,
         string_agg(piece, ' ' ORDER BY key) AS input_text
  FROM (
    SELECT doc_id, pos * 2 AS key,
           CASE WHEN NOT masked THEN token
                WHEN is_first THEN sent END AS piece
    FROM pieces
  ) WHERE piece IS NOT NULL
  GROUP BY doc_id
),
tgt AS (
  SELECT doc_id, string_agg(piece, ' ' ORDER BY key) AS target_text
  FROM (
    SELECT doc_id, pos * 2 AS key, token AS piece FROM pieces WHERE masked
    UNION ALL
    SELECT doc_id, pos * 2 - 1, sent FROM pieces WHERE masked AND is_first
  ) GROUP BY doc_id
),
ns AS (
  SELECT doc_id, sum(CASE WHEN masked THEN 1 ELSE 0 END)::BIGINT AS n_spans
  FROM kb GROUP BY doc_id
)
SELECT i.doc_id, i.input_text, coalesce(t.target_text, '') AS target_text,
       ns.n_spans
FROM inp i
LEFT JOIN tgt t ON i.doc_id = t.doc_id
JOIN ns ON i.doc_id = ns.doc_id
"""


# ---------------------------------------------------------------- Gopher rule funnel
def q_gopher_rules(spark, sf_dir):
    """Per-RULE attrition table for the Gopher quality heuristics (Rae et
    al. 2021, Table A1 — the rule family MassiveText/Gopher filtered with,
    reused by most web-corpus pipelines since): how many documents each
    rule rejects, alone, plus the all-rules survivor count. This is the
    diagnostic the single-logit x_quality_score can't give: when a corpus
    refresh suddenly halves, THIS table says which rule did it.

    Rules (integer milli grids; a token is a whitespace token of
    lower(trim(text)), the registry's shared _TOKS contract):
      1_word_count    50 <= n_tokens <= 100_000
      2_mean_word_len 3000 <= floor(1000*sum_len/n) <= 10_000
      3_stop_words    >= 2 DISTINCT hits from the 8-word English stopword
                      list (operators/text.LANG_STOPWORDS['en'] — the
                      published rule is English-centric by design; non-
                      Latin scripts fail here and in 5_alpha_words, which
                      is exactly what running Gopher rules on a
                      multilingual crawl does)
      4_symbol_ratio  tokens containing '#' or '...' <= 100 milli of n
      5_alpha_words   tokens containing [a-z] >= 800 milli of n
      0_all / 9_keep  corpus size and all-rules survivors.

    Scale shape: one map-only projection computes all five flags per doc
    (shared token array, no shuffle), then ONE grand-total aggregate
    unpivoted to rule rows — the same single-pass funnel shape as
    x_select_pipeline, trivially map-reduce at 100 TB."""
    d = _docs_par(spark, sf_dir)
    toks = tokenize.whitespace_tokens(F.lower(F.trim(F.col("text"))))
    n = F.size(toks)
    sum_len = F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t))
    mwl_milli = F.expr(
        "CAST(1000 * _sum_len DIV greatest(_n, 1) AS BIGINT)"
    )
    stops = text.LANG_STOPWORDS["en"]
    n_stop_distinct = F.size(
        F.array_intersect(F.array_distinct(toks), F.array(*[F.lit(s) for s in stops]))
    )
    n_sym = F.size(F.filter(toks, lambda t: t.contains("#") | t.contains("...")))
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    flags = d.select(
        n.alias("_n"),
        sum_len.alias("_sum_len"),
        n_stop_distinct.alias("_nsd"),
        n_sym.alias("_nsym"),
        n_alpha.alias("_nalpha"),
    ).select(
        ((F.col("_n") >= 50) & (F.col("_n") <= 100_000)).alias("r1"),
        mwl_milli.between(3000, 10_000).alias("r2"),
        (F.col("_nsd") >= 2).alias("r3"),
        (F.expr("1000 * _nsym DIV greatest(_n, 1)") <= 100).alias("r4"),
        (F.expr("1000 * _nalpha DIV greatest(_n, 1)") >= 800).alias("r5"),
    )
    agg = flags.agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[
            F.sum(F.when(F.col(r), 0).otherwise(1)).cast("bigint").alias(f"f{r}")
            for r in ("r1", "r2", "r3", "r4", "r5")
        ],
        F.sum(
            F.when(
                F.col("r1") & F.col("r2") & F.col("r3") & F.col("r4") & F.col("r5"),
                1,
            ).otherwise(0)
        ).cast("bigint").alias("n_keep"),
    )
    out = agg.selectExpr(
        "stack(7,"
        " '0_all', n_docs,"
        " '1_word_count', fr1,"
        " '2_mean_word_len', fr2,"
        " '3_stop_words', fr3,"
        " '4_symbol_ratio', fr4,"
        " '5_alpha_words', fr5,"
        " '9_keep', n_keep) AS (rule, n)",
        "n_docs AS _tot",
    )
    return out.select(
        "rule",
        F.col("n").cast("bigint").alias("n"),
        F.expr("CAST(1000 * n DIV greatest(_tot, 1) AS BIGINT)").alias("pct_milli"),
    )


ORACLE_GOPHER_RULES = f"""
WITH per AS (
  SELECT len({_TOKS}) AS n,
         coalesce(list_sum(list_transform({_TOKS}, t -> len(t))), 0) AS sum_len,
         len(list_intersect(list_distinct({_TOKS}),
             ['the', 'and', 'of', 'to', 'in', 'is', 'a', 'that'])) AS nsd,
         len(list_filter({_TOKS}, t -> contains(t, '#') OR contains(t, '...'))) AS nsym,
         len(list_filter({_TOKS}, t -> regexp_matches(t, '[a-z]'))) AS nalpha
  FROM documents
),
flags AS (
  SELECT (n >= 50 AND n <= 100000) AS r1,
         (1000 * sum_len // greatest(n, 1)) BETWEEN 3000 AND 10000 AS r2,
         (nsd >= 2) AS r3,
         (1000 * nsym // greatest(n, 1)) <= 100 AS r4,
         (1000 * nalpha // greatest(n, 1)) >= 800 AS r5
  FROM per
),
agg AS (
  SELECT count(*)::BIGINT AS n_docs,
         sum(CASE WHEN r1 THEN 0 ELSE 1 END)::BIGINT AS fr1,
         sum(CASE WHEN r2 THEN 0 ELSE 1 END)::BIGINT AS fr2,
         sum(CASE WHEN r3 THEN 0 ELSE 1 END)::BIGINT AS fr3,
         sum(CASE WHEN r4 THEN 0 ELSE 1 END)::BIGINT AS fr4,
         sum(CASE WHEN r5 THEN 0 ELSE 1 END)::BIGINT AS fr5,
         sum(CASE WHEN r1 AND r2 AND r3 AND r4 AND r5 THEN 1 ELSE 0 END)::BIGINT AS n_keep
  FROM flags
),
rows_ AS (
  SELECT * FROM (
    SELECT '0_all' AS rule, n_docs AS n, n_docs AS tot FROM agg
    UNION ALL SELECT '1_word_count', fr1, n_docs FROM agg
    UNION ALL SELECT '2_mean_word_len', fr2, n_docs FROM agg
    UNION ALL SELECT '3_stop_words', fr3, n_docs FROM agg
    UNION ALL SELECT '4_symbol_ratio', fr4, n_docs FROM agg
    UNION ALL SELECT '5_alpha_words', fr5, n_docs FROM agg
    UNION ALL SELECT '9_keep', n_keep, n_docs FROM agg
  )
)
SELECT rule, n::BIGINT AS n, (1000 * n // greatest(tot, 1))::BIGINT AS pct_milli
FROM rows_
"""


# ---------------------------------------------------------------- Heaps-law vocab growth
def q_vocab_growth(spark, sf_dir):
    """Heaps-law vocabulary growth curve: cumulative distinct-token count
    (and token/doc totals) over 10 equal doc_id-range prefixes of the
    corpus — the curve whose flattening says a crawl has stopped bringing
    new vocabulary (and whose slope calibrates tokenizer vocab budgets).

    The distributed trick: cumulative DISTINCT is not a decomposable
    aggregate, but "token first SEEN in bucket b" is — vocab(prefix b) =
    Σ_{k<=b} |{tokens whose MIN doc-bucket is k}|. So: explode tokens,
    min-aggregate each token's first bucket (the Heaps-sublinear vocab
    table, tiny next to the corpus), count by bucket, and prefix-sum the
    10-row result with the shared distributed_cumsum. No window ever sees
    a data-proportional axis; at 100 TB this is explode -> two hash aggs.

    Bucket = floor(10 * doc_id / (max_doc_id + 1)) — doc_id-range
    prefixes (the fixture's ingest order), attached as a broadcast scalar.
    """
    d = _docs_par(spark, sf_dir)
    toks = tokenize.whitespace_tokens(F.lower(F.trim(F.col("text"))))
    mx = d.agg(F.max("doc_id").alias("_mx"))
    docs = d.select("doc_id", toks.alias("_toks")).join(F.broadcast(mx)).select(
        F.expr("CAST(10 * doc_id DIV (_mx + 1) AS BIGINT)").alias("bucket"),
        "doc_id",
        "_toks",
    )
    per_bucket = docs.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("_toks")).cast("bigint").alias("n_tokens"),
    )
    first_seen = (
        docs.select("bucket", F.explode("_toks").alias("tok"))
        .groupBy("tok")
        .agg(F.min("bucket").alias("first_bucket"))
        .groupBy("first_bucket")
        .agg(F.count(F.lit(1)).alias("vocab_new"))
    )
    joined = per_bucket.join(
        first_seen.withColumnRenamed("first_bucket", "bucket"), "bucket", "left"
    ).select(
        "bucket",
        "n_docs",
        "n_tokens",
        F.coalesce("vocab_new", F.lit(0)).cast("bigint").alias("vocab_new"),
    )
    cum = distributed_cumsum(joined, ["bucket"], "n_tokens", "tokens_cum")
    cum = distributed_cumsum(cum, ["bucket"], "vocab_new", "vocab_cum")
    return cum.select(
        "bucket",
        "n_docs",
        F.col("tokens_cum").cast("bigint").alias("tokens_cum"),
        F.col("vocab_cum").cast("bigint").alias("vocab_cum"),
    )


ORACLE_VOCAB_GROWTH = f"""
WITH mx AS (SELECT max(doc_id) AS m FROM documents),
docs AS (
  SELECT (10 * doc_id // (m + 1))::BIGINT AS bucket, doc_id, {_TOKS} AS toks
  FROM documents CROSS JOIN mx
),
per_bucket AS (
  SELECT bucket, count(*)::BIGINT AS n_docs, sum(len(toks))::BIGINT AS n_tokens
  FROM docs GROUP BY 1
),
first_seen AS (
  SELECT min(bucket) AS first_bucket, tok
  FROM (SELECT bucket, unnest(toks) AS tok FROM docs) GROUP BY tok
),
vocab AS (
  SELECT first_bucket AS bucket, count(*)::BIGINT AS vocab_new
  FROM first_seen GROUP BY 1
)
SELECT p.bucket, p.n_docs,
       sum(p.n_tokens) OVER (ORDER BY p.bucket)::BIGINT AS tokens_cum,
       sum(coalesce(v.vocab_new, 0)) OVER (ORDER BY p.bucket)::BIGINT AS vocab_cum
FROM per_bucket p LEFT JOIN vocab v USING (bucket)
"""


def q_coverage_curve(spark, sf_dir):
    """Vocabulary coverage curve (tokenizer budgeting): what fraction of
    all token OCCURRENCES is covered by the top-k token TYPES, at
    k = 10 / 100 / 1000 — the statistic that sizes a vocabulary or a
    stopword list (Zipf mass concentration, measured exactly rather than
    fit). When the vocabulary is smaller than k the curve saturates at
    the full vocabulary (eff_rank column records the rank actually read).

    Scale shape: one token hash agg; the rank axis is pre-cut to the
    top-10000 types via TakeOrderedAndProject (bounded regardless of
    corpus size); rank + running mass come from distributed_cumsum
    (range partition + keyed window — no single-partition sort); the
    3-row target table broadcast-joins against the ranked axis."""
    d = _docs_par(spark, sf_dir)

    tf = (
        d.select(
            F.explode(
                tokenize.whitespace_tokens(dedup.normalize_text(F.col("text")))
            ).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    ).cache()
    total = tf.agg(F.sum("tf").alias("total_tf"))
    top = (
        tf.orderBy(F.col("tf").desc(), "token")
        .limit(10000)
        .withColumn("neg_tf", -F.col("tf"))
        .withColumn("one", F.lit(1))
    )
    ranked = distributed_cumsum(
        top,
        order_cols=["neg_tf", "token"],
        value_col=["tf", "one"],
        out_col=["cum_tf", "r"],
    )
    vocab = ranked.agg(F.max("r").alias("vocab"))
    targets = spark.createDataFrame([(10,), (100,), (1000,)], "target_k bigint")
    pick = (
        targets.crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(total))
        .select(
            "target_k",
            F.least(F.col("target_k"), F.col("vocab")).alias("eff_rank"),
            "total_tf",
        )
    )
    return (
        ranked.join(F.broadcast(pick), ranked["r"] == pick["eff_rank"])
        .select(
            "target_k",
            "eff_rank",
            "cum_tf",
            "total_tf",
            F.expr("CAST(cum_tf * 1000000 DIV total_tf AS BIGINT)").alias(
                "coverage_ppm"
            ),
        )
        .orderBy("target_k")
    )


ORACLE_COVERAGE_CURVE = f"""
WITH toks AS (SELECT unnest({_TOKS}) AS token FROM documents),
tf AS (SELECT token, count(*)::BIGINT AS tf FROM toks GROUP BY 1),
tot AS (SELECT sum(tf)::BIGINT AS total_tf FROM tf),
top AS (SELECT token, tf FROM tf ORDER BY tf DESC, token LIMIT 10000),
ranked AS (
  SELECT token, tf,
         row_number() OVER w AS r,
         sum(tf) OVER w AS cum_tf
  FROM top WINDOW w AS (ORDER BY tf DESC, token ROWS UNBOUNDED PRECEDING)
),
v AS (SELECT max(r)::BIGINT AS vocab FROM ranked)
SELECT t.target_k::BIGINT AS target_k,
       least(t.target_k, v.vocab)::BIGINT AS eff_rank,
       r.cum_tf::BIGINT AS cum_tf, tot.total_tf,
       (r.cum_tf * 1000000 // tot.total_tf)::BIGINT AS coverage_ppm
FROM (VALUES (10), (100), (1000)) t(target_k)
CROSS JOIN v CROSS JOIN tot
JOIN ranked r ON r.r = least(t.target_k, v.vocab)
ORDER BY 1
"""


def q_safety_screen(spark, sf_dir):
    """Blocklist policy screen with per-category hit statistics — the
    moderation pre-filter run before any expensive classifier: a term ->
    category table (here a 3-category list over the fixture vocabulary;
    production swaps in the real lists through the same broadcast path)
    is matched against the tokenized corpus, and each category reports
    how many documents it flags, its flag rate, and total term hits.
    An '__any__' row gives the union (docs a one-pass OR-filter would
    drop). Term matching is exact-token (no regex — regex dialects
    diverge across engines; tokenized exact match is also what a Bloom/
    Aho-Corasick screen implements at scale).

    Scale shape: explode -> broadcast-join the term table -> two bounded
    hash aggs (per doc x category, then per category). The corpus is
    touched once; everything after the first agg is <= |docs| x
    |categories| and collapses immediately."""
    d = _docs_par(spark, sf_dir)
    terms = safety_terms_df(spark)
    toks = d.select(
        "doc_id",
        F.explode(
            tokenize.whitespace_tokens(dedup.normalize_text(F.col("text")))
        ).alias("term"),
    )
    hits = toks.join(F.broadcast(terms), "term")
    per_doc = hits.groupBy("doc_id", "category").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hits")
    ).cache()
    n_docs = d.agg(F.count(F.lit(1)).alias("total_docs"))
    return safety_tail(per_doc, n_docs)


SAFETY_TERMS = [
    ("latency", "slow"), ("latency", "bottleneck"),
    ("mutation", "merge"), ("mutation", "overwrite"), ("mutation", "delete"),
    ("volume", "big"), ("volume", "huge"), ("volume", "stream"),
]


def safety_terms_df(spark):
    return spark.createDataFrame(SAFETY_TERMS, "category string, term string")


def safety_tail(per_doc, n_docs):
    """Category rollup over a (doc_id, category, n_hits) frame — shared by
    the batch screen and the streaming twin (which drains per_doc through
    a complete-mode aggregate first)."""
    per_cat = per_doc.groupBy("category").agg(
        F.count(F.lit(1)).cast("bigint").alias("docs_flagged"),
        F.sum("n_hits").cast("bigint").alias("term_hits"),
    )
    any_row = per_doc.select("doc_id").distinct().agg(
        F.lit("__any__").alias("category"),
        F.count(F.lit(1)).cast("bigint").alias("docs_flagged"),
        F.lit(None).cast("bigint").alias("term_hits"),
    )
    return (
        per_cat.unionByName(any_row)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "category",
            "docs_flagged",
            F.expr("CAST(docs_flagged * 1000 DIV total_docs AS BIGINT)").alias(
                "flag_rate_milli"
            ),
            "term_hits",
        )
    )


ORACLE_SAFETY_SCREEN = f"""
WITH terms AS (
  SELECT * FROM (VALUES
    ('latency', 'slow'), ('latency', 'bottleneck'),
    ('mutation', 'merge'), ('mutation', 'overwrite'), ('mutation', 'delete'),
    ('volume', 'big'), ('volume', 'huge'), ('volume', 'stream')
  ) AS t(category, term)
),
toks AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
hits AS (SELECT h.doc_id, t.category FROM toks h JOIN terms t USING (term)),
per_doc AS (
  SELECT doc_id, category, count(*)::BIGINT AS n_hits FROM hits GROUP BY 1, 2
),
nd AS (SELECT count(*)::BIGINT AS total_docs FROM documents),
per_cat AS (
  SELECT category, count(*)::BIGINT AS docs_flagged,
         sum(n_hits)::BIGINT AS term_hits
  FROM per_doc GROUP BY 1
  UNION ALL
  SELECT '__any__', count(DISTINCT doc_id)::BIGINT, NULL::BIGINT FROM per_doc
)
SELECT category, docs_flagged,
       (docs_flagged * 1000 // total_docs)::BIGINT AS flag_rate_milli,
       term_hits
FROM per_cat CROSS JOIN nd
"""


def q_entropy_filter(spark, sf_dir):
    """Unigram-entropy repetitiveness filter: per-doc token entropy in
    floored milli-nats — the low end of the distribution is templated /
    looping text (the signal x_repetition_filter reads from max n-gram
    share, here read from the WHOLE distribution at once). Output: the
    20 lowest-entropy docs with token totals and distinct counts.

    Parity note: each token's surprisal ln(n/c) is floored to an integer
    milli-nat from IDENTICAL integer operands — the same portability
    contract as lm_surprisal_score (identical doubles -> identical libm
    ln -> identical floor); the per-doc sum is then an INTEGER sum,
    order-free, and the final normalization one integer DIV.

    Scale shape: one (doc, token) hash agg, one per-doc agg, top-k via
    TakeOrderedAndProject. Map-side combine everywhere; nothing global."""
    d = _docs_par(spark, sf_dir)
    tc = (
        d.select(
            "doc_id",
            F.explode(
                tokenize.whitespace_tokens(dedup.normalize_text(F.col("text")))
            ).alias("token"),
        )
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    return entropy_tail(tc)


def entropy_tail(tc):
    """Entropy rollup over a (doc_id, token, c) count frame — shared by the
    batch filter and the streaming twin (which drains the counts through
    a complete-mode aggregate first)."""
    from pyspark.sql import Window

    wd = Window.partitionBy("doc_id")
    per = tc.withColumn("n", F.sum("c").over(wd)).select(
        "doc_id",
        "n",
        "c",
        F.floor(F.log(F.col("n").cast("double") / F.col("c")) * 1000)
        .cast("bigint")
        .alias("surpr_milli"),
    )
    return (
        per.groupBy("doc_id")
        .agg(
            F.max("n").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("distinct_tokens"),
            F.expr("CAST(sum(c * surpr_milli) DIV max(n) AS BIGINT)").alias(
                "entropy_milli"
            ),
        )
        .orderBy("entropy_milli", "doc_id")
        .limit(20)
    )


ORACLE_ENTROPY_FILTER = f"""
WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS token FROM documents),
tc AS (SELECT doc_id, token, count(*)::BIGINT AS c FROM toks GROUP BY 1, 2),
per AS (
  SELECT doc_id, c,
         sum(c) OVER (PARTITION BY doc_id) AS n,
         floor(ln((sum(c) OVER (PARTITION BY doc_id))::DOUBLE / c) * 1000)::BIGINT
           AS surpr_milli
  FROM tc
)
SELECT doc_id, max(n)::BIGINT AS n_tokens, count(*)::BIGINT AS distinct_tokens,
       (sum(c * surpr_milli) // max(n))::BIGINT AS entropy_milli
FROM per GROUP BY 1
ORDER BY entropy_milli, doc_id LIMIT 20
"""


# ---------------------------------------------------------------- Zipf frequency-spectrum fit
def q_zipf_fit(spark, sf_dir):
    """Zipf-law fit of the corpus token-frequency SPECTRUM: tokens are
    binned by ilog2(freq) (the exact bit-length integer — no float log
    anywhere), the spectrum point set (k, ilog2(#tokens at k)) gets an
    integer-OLS slope, and a Zipfian corpus shows slope ≈ −1/s − 1 ≈ −2
    for s ≈ 1. Degenerate vocabularies (template floods, tokenizer bugs)
    bend the spectrum — this is the one-number corpus-health probe for
    that.

    The spectrum formulation (count tokens per log-frequency bin) replaces
    the classic rank-frequency plot exactly so that NO global ranking is
    needed: rank-frequency requires a corpus-wide sort of the vocabulary;
    the spectrum is one hash aggregate. ilog2 via length(bin(x))−1 on
    Spark / length(printf('%b', x))−1 on DuckDB — both exact bit lengths,
    immune to IEEE log2 boundary error at exact powers of two.

    Scale shape: token-count hash agg over the corpus scan → vocab-sized
    frame → 1-key spectrum agg (≤ ~40 rows) → OLS over the tiny point set
    via one more aggregate + broadcast."""
    from ..operators.text import normalize_text, whitespace_tokens

    d = _docs_par(spark, sf_dir)
    tf = (
        d.select(F.explode(whitespace_tokens(normalize_text(F.col("text")))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    spec = (
        tf.select((F.length(F.bin(F.col("freq"))) - 1).cast("bigint").alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"))
        .withColumn("y", (F.length(F.bin(F.col("n_tokens"))) - 1).cast("bigint"))
        .cache()
    )
    ols = spec.agg(
        F.count(F.lit(1)).alias("np"),
        F.sum("k").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("k") * F.col("y")).alias("sxy"),
        F.sum(F.col("k") * F.col("k")).alias("sxx"),
    ).select(
        F.expr(
            "CASE WHEN np * sxx - sx * sx > 0 THEN "
            "(1000 * (np * sxy - sx * sy)) div (np * sxx - sx * sx) "
            "ELSE NULL END"
        ).alias("slope_milli")
    )
    return spec.crossJoin(F.broadcast(ols)).select(
        "k", "n_tokens", "slope_milli"
    ).orderBy("k")


ORACLE_ZIPF_FIT = f"""
WITH tf AS (
  SELECT tok, count(*)::BIGINT AS freq
  FROM (SELECT unnest({_TOKS}) AS tok FROM documents)
  GROUP BY tok
),
spec AS (
  SELECT (length(printf('%b', freq)) - 1)::BIGINT AS k,
         count(*)::BIGINT AS n_tokens,
         (length(printf('%b', count(*))) - 1)::BIGINT AS y
  FROM tf GROUP BY (length(printf('%b', freq)) - 1)
),
ols AS (
  SELECT CASE WHEN count(*) * sum(k * k) - sum(k) * sum(k) > 0 THEN
    (1000 * (count(*) * sum(k * y) - sum(k) * sum(y)))
    // (count(*) * sum(k * k) - sum(k) * sum(k))
  ELSE NULL END AS slope_milli
  FROM spec
)
SELECT k, n_tokens, slope_milli FROM spec, ols ORDER BY k
"""


# ---------------------------------------------------------------- code-vs-prose detection
def q_code_detect(spark, sf_dir):
    """Code-vs-prose screen: per-document symbol density (braces, brackets,
    semicolons, operators) and digit density on exact integer milli grids,
    with the standard threshold rule (symbols ≥ 5% of chars ⇒ code-like) —
    the cheap pre-filter that routes documents to a code pipeline before
    any expensive classifier runs. Both densities are LENGTH DIFFERENCES
    after character-class deletion — pure JVM regex, one projection, zero
    shuffles; the oracle uses the same classes with DuckDB's 'g' flag."""
    d = _docs_par(spark, sf_dir)
    n_chars = F.length(F.col("text"))
    n_sym = n_chars - F.length(F.regexp_replace(F.col("text"), r"[;{}()\[\]=<>]", ""))
    n_dig = n_chars - F.length(F.regexp_replace(F.col("text"), r"[0-9]", ""))
    return d.select(
        "doc_id",
        "source",
        (F.expr("1000") * n_sym).cast("bigint").alias("_s"),
        (F.expr("1000") * n_dig).cast("bigint").alias("_d"),
        n_chars.cast("bigint").alias("n_chars_txt"),
    ).select(
        "doc_id", "source", "n_chars_txt",
        F.expr("_s div greatest(n_chars_txt, 1)").alias("sym_milli"),
        F.expr("_d div greatest(n_chars_txt, 1)").alias("digit_milli"),
        (F.expr("_s div greatest(n_chars_txt, 1)") >= 50).cast("int").alias("is_code"),
    )


ORACLE_CODE_DETECT = r"""
SELECT doc_id, source,
       length(text)::BIGINT AS n_chars_txt,
       ((1000 * (length(text) - length(regexp_replace(text, '[;{}()\[\]=<>]', '', 'g'))))
         // greatest(length(text), 1))::BIGINT AS sym_milli,
       ((1000 * (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))))
         // greatest(length(text), 1))::BIGINT AS digit_milli,
       CASE WHEN ((1000 * (length(text) - length(regexp_replace(text, '[;{}()\[\]=<>]', '', 'g'))))
         // greatest(length(text), 1)) >= 50 THEN 1 ELSE 0 END::INT AS is_code
FROM documents
"""


# ---------------------------------------------------------------- source vocabulary overlap
def q_vocab_overlap_sources(spark, sf_dir):
    """Pairwise VOCABULARY overlap between sources: Jaccard and each-way
    containment of the distinct-token sets, per ordered source pair — the
    set-overlap complement of x_source_divergence's distribution distance
    (two sources can share 95% of their vocabulary yet weight it
    completely differently, and vice versa; mixture planning wants both).

    Scale shape: one (source, token) distinct (hash agg, map-side
    combinable), per-source sizes from its rollup, then the intersection
    via a token-keyed self-join — per-token fan-out is (sources carrying
    the token)², bounded by |sources|², never corpus-shaped — and one
    |sources|²-row aggregate."""
    d = _docs_par(spark, sf_dir)
    st = (
        d.select(
            "source",
            F.explode(F.expr(
                "filter(split(lower(trim(text)), '\\\\s+'), t -> t != '')"
            )).alias("tok"),
        )
        .distinct()
        .cache()
    )
    sizes = st.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n_vocab"))
    inter = (
        st.alias("a")
        .join(st.alias("b"), (F.col("a.tok") == F.col("b.tok")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("source", "source_a").withColumnRenamed("n_vocab", "va"), "source_a")
        .join(sizes.withColumnRenamed("source", "source_b").withColumnRenamed("n_vocab", "vb"), "source_b")
        .select(
            "source_a", "source_b", "n_inter", "va", "vb",
            (F.expr("(n_inter * 10000) div greatest(va + vb - n_inter, 1)") / F.lit(10000.0)).alias("vocab_jaccard"),
            (F.expr("(n_inter * 10000) div greatest(least(va, vb), 1)") / F.lit(10000.0)).alias("containment_smaller"),
        )
        .orderBy("source_a", "source_b")
    )


ORACLE_VOCAB_OVERLAP_SOURCES = f"""
WITH st AS (SELECT DISTINCT source, unnest({_TOKS}) AS tok FROM documents),
sizes AS (SELECT source, count(*)::BIGINT AS n_vocab FROM st GROUP BY 1),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*)::BIGINT AS n_inter
  FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
  GROUP BY 1, 2
)
SELECT i.source_a, i.source_b, i.n_inter,
       sa.n_vocab AS va, sb.n_vocab AS vb,
       ((i.n_inter * 10000) // greatest(sa.n_vocab + sb.n_vocab - i.n_inter, 1)) / 10000.0 AS vocab_jaccard,
       ((i.n_inter * 10000) // greatest(least(sa.n_vocab, sb.n_vocab), 1)) / 10000.0 AS containment_smaller
FROM inter i
JOIN sizes sa ON i.source_a = sa.source
JOIN sizes sb ON i.source_b = sb.source
ORDER BY i.source_a, i.source_b
"""


# ------------------------------------------------------------- readability
def q_readability(spark, sf_dir):
    """Readability banding (Flesch-style, integer-milli grid): per doc,
    words = normalized whitespace tokens, sentences = terminal-punct count
    (min 1), syllables ≈ maximal vowel groups (min 1 — the standard cheap
    proxy); score_milli = 206835 − 1015·words div sentences − 84600·syll
    div words, then docs bucketed into the five classic bands. A quality
    gate uses this exactly like x_quality_score — a pure narrow map over
    the corpus (regex counts, no explode), one ≤5-row aggregate — and on
    100 TB the per-doc pass is embarrassingly parallel with zero shuffle
    before the tiny band rollup. Truncating integer division in BOTH
    engines (all operands non-negative), so scores are bit-identical."""
    d = _docs_par(spark, sf_dir)
    toks = dedup.whitespace_tokens(dedup.normalize_text(F.col("text")))
    per = d.select(
        F.greatest(F.size(toks).cast("bigint"), F.lit(1)).alias("n_words"),
        F.greatest(
            F.length(F.regexp_replace(F.col("text"), r"[^.!?]", "")).cast("bigint"),
            F.lit(1),
        ).alias("n_sent"),
        F.greatest(
            F.expr("size(regexp_extract_all(lower(text), '[aeiou]+', 0))").cast("bigint"),
            F.lit(1),
        ).alias("n_syll"),
    ).select(
        (
            F.lit(206835)
            - F.expr("1015 * n_words div n_sent")
            - F.expr("84600 * n_syll div n_words")
        ).alias("score_milli")
    )
    band = (
        F.when(F.col("score_milli") >= 90000, F.lit("very_easy"))
        .when(F.col("score_milli") >= 70000, F.lit("easy"))
        .when(F.col("score_milli") >= 50000, F.lit("medium"))
        .when(F.col("score_milli") >= 30000, F.lit("hard"))
        .otherwise(F.lit("very_hard"))
    )
    return (
        per.groupBy(band.alias("band"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("score_milli").cast("bigint").alias("min_score_milli"),
            F.max("score_milli").cast("bigint").alias("max_score_milli"),
        )
        .orderBy("band")
    )


ORACLE_READABILITY = f"""
WITH per AS (
  SELECT 206835
         - (1015 * greatest(len({_TOKS}), 1))
           // greatest(length(regexp_replace(text, '[^.!?]', '', 'g')), 1)
         - (84600 * greatest(len(regexp_extract_all(lower(text), '[aeiou]+')), 1))
           // greatest(len({_TOKS}), 1) AS score_milli
  FROM documents
),
banded AS (
  SELECT score_milli,
         CASE WHEN score_milli >= 90000 THEN 'very_easy'
              WHEN score_milli >= 70000 THEN 'easy'
              WHEN score_milli >= 50000 THEN 'medium'
              WHEN score_milli >= 30000 THEN 'hard'
              ELSE 'very_hard' END AS band
  FROM per
)
SELECT band, count(*)::BIGINT AS n_docs,
       min(score_milli)::BIGINT AS min_score_milli,
       max(score_milli)::BIGINT AS max_score_milli
FROM banded GROUP BY band ORDER BY band
"""


# ------------------------------------------------------------- BPE compression
def q_bpe_compression(spark, sf_dir):
    """Tokenizer compression per source: raw symbols vs BPE-encoded
    symbols aggregated over each source's token stream — the
    tokens-per-byte dashboard that decides whether a tokenizer retrain is
    warranted for a new source mix (code-heavy or non-Latin sources
    compress visibly worse under a text-trained vocab). Rides
    _bpe_trained's cached vocab and the per-doc encoded counts; one broadcast-sized vocab join, two hash aggregates."""
    from ..operators import text as _text

    _, vocab = _bpe_trained(spark, sf_dir, n_merges=3)
    per_doc = _text.bpe_encoded_length_with_vocab(_docs_par(spark, sf_dir), vocab)
    d = _docs_par(spark, sf_dir).select("doc_id", "source")
    return (
        per_doc.join(d, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.sum("n_sym_raw").cast("bigint").alias("n_sym_raw"),
            F.sum("n_sym_enc").cast("bigint").alias("n_sym_enc"),
            F.expr("sum(n_sym_enc) * 1000 div sum(n_sym_raw)")
            .cast("bigint")
            .alias("compression_milli"),
        )
        .orderBy("source")
    )


def _bpe_compression_oracle() -> str:
    return f"""
WITH perdoc AS ({ORACLE_BPE_APPLY})
SELECT d.source, count(*)::BIGINT AS n_docs,
       sum(p.n_tokens)::BIGINT AS n_tokens,
       sum(p.n_sym_raw)::BIGINT AS n_sym_raw,
       sum(p.n_sym_enc)::BIGINT AS n_sym_enc,
       (sum(p.n_sym_enc) * 1000 // sum(p.n_sym_raw))::BIGINT AS compression_milli
FROM perdoc p JOIN documents d USING (doc_id)
GROUP BY d.source ORDER BY d.source
"""


# ------------------------------------------------------------- type-token ratio
def q_ttr_sources(spark, sf_dir):
    """Lexical diversity per source: type-token ratio (distinct normalized
    tokens / token occurrences, milli grid) — the cheap vocabulary-richness
    signal that separates template/boilerplate feeds (TTR collapses) from
    organic text, read next to x_vocab_overlap_sources when deciding mix
    weights. Two hash aggregates ((source, tok) then source), both
    map-side combinable."""
    d = _docs_par(spark, sf_dir)
    toks = d.select(
        "source",
        F.explode(dedup.whitespace_tokens(dedup.normalize_text(F.col("text")))).alias("tok"),
    )
    per = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("ct"))
    return (
        per.groupBy("source")
        .agg(
            F.sum("ct").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.expr("count(1) * 1000 div sum(ct)").cast("bigint").alias("ttr_milli"),
        )
        .orderBy("source")
    )


ORACLE_TTR_SOURCES = f"""
WITH toks AS (
  SELECT source, unnest({_TOKS}) AS tok FROM documents
),
per AS (SELECT source, tok, count(*) AS ct FROM toks GROUP BY 1, 2)
SELECT source, sum(ct)::BIGINT AS n_tokens, count(*)::BIGINT AS n_types,
       (count(*) * 1000 // sum(ct))::BIGINT AS ttr_milli
FROM per GROUP BY source ORDER BY source
"""


# ------------------------------------------------------------- char-class mix
def q_char_class_mix(spark, sf_dir):
    """Per-source character-class composition: alpha / digit / space /
    other milli fractions of the raw text plus the doc count — the
    cheapest "is this feed text or markup/tables?" screen, read before
    the tokenizer-level profiles (x_token_len_profile) and the quality
    classifier. A feed whose digit+other mass spikes is logs or tables,
    not prose.

    Scale shape: per-doc class counts are pure string expressions
    (length of a regexp_replace projection — no explode, no Python),
    summed in ONE map-side-combinable hash agg per source; ratios are
    integer div on the aggregated exact counts. ASCII classes only, so
    Java and RE2 regex semantics agree byte-for-byte."""
    d = load_table(spark, sf_dir, "documents")
    n_all = F.length("text").cast("bigint")
    n_alpha = F.length(F.regexp_replace(F.col("text"), "[^A-Za-z]", "")).cast("bigint")
    n_digit = F.length(F.regexp_replace(F.col("text"), "[^0-9]", "")).cast("bigint")
    n_space = F.length(F.regexp_replace(F.col("text"), "[^ ]", "")).cast("bigint")
    agg = (
        d.select(
            "source",
            n_all.alias("_n"),
            n_alpha.alias("_a"),
            n_digit.alias("_d"),
            n_space.alias("_s"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("_n").cast("bigint").alias("n_chars"),
            F.sum("_a").cast("bigint").alias("_ca"),
            F.sum("_d").cast("bigint").alias("_cd"),
            F.sum("_s").cast("bigint").alias("_cs"),
        )
    )
    return (
        agg.select(
            "source",
            "n_docs",
            "n_chars",
            F.expr("_ca * 1000 div n_chars").cast("bigint").alias("alpha_milli"),
            F.expr("_cd * 1000 div n_chars").cast("bigint").alias("digit_milli"),
            F.expr("_cs * 1000 div n_chars").cast("bigint").alias("space_milli"),
            F.expr("(n_chars - _ca - _cd - _cs) * 1000 div n_chars")
            .cast("bigint")
            .alias("other_milli"),
        )
        .orderBy("source")
    )


ORACLE_CHAR_CLASS_MIX = """
WITH per AS (
  SELECT source,
         length(text)::BIGINT AS n,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::BIGINT AS a,
         length(regexp_replace(text, '[^0-9]', '', 'g'))::BIGINT AS d,
         length(regexp_replace(text, '[^ ]', '', 'g'))::BIGINT AS s
  FROM documents
),
agg AS (
  SELECT source, count(*)::BIGINT AS n_docs, sum(n)::BIGINT AS n_chars,
         sum(a)::BIGINT AS ca, sum(d)::BIGINT AS cd, sum(s)::BIGINT AS cs
  FROM per GROUP BY source
)
SELECT source, n_docs, n_chars,
       (ca * 1000 // n_chars)::BIGINT AS alpha_milli,
       (cd * 1000 // n_chars)::BIGINT AS digit_milli,
       (cs * 1000 // n_chars)::BIGINT AS space_milli,
       ((n_chars - ca - cd - cs) * 1000 // n_chars)::BIGINT AS other_milli
FROM agg ORDER BY source
"""


# ------------------------------------------------------------- token-length profile
def q_token_len_profile(spark, sf_dir):
    """Per-source tokenizer fertility proxy: token count, total token
    bytes, bytes-per-token (milli) and the longest token — the
    pre-tokenization screen for feeds that will explode a BPE vocabulary
    (URLs, hex dumps, agglutinative noise all push bytes/token up).

    Scale shape: per-doc token stats are pure ARRAY expressions over the
    normalized token array (size / aggregate(transform(len)) / array_max
    — no explode), then one map-side-combinable hash agg per source."""
    d = _docs_par(spark, sf_dir)
    toks = dedup.whitespace_tokens(dedup.normalize_text(F.col("text")))
    per = d.select(
        "source",
        F.size(toks).cast("bigint").alias("_nt"),
        F.expr(
            "aggregate(transform(filter(split(lower(trim(text)), '\\\\s+'), t -> t != ''), "
            "t -> length(t)), 0L, (acc, x) -> acc + x)"
        ).alias("_bytes"),
        F.expr(
            "coalesce(array_max(transform(filter(split(lower(trim(text)), '\\\\s+'), "
            "t -> t != ''), t -> length(t))), 0)"
        ).cast("bigint").alias("_maxlen"),
    )
    return (
        per.groupBy("source")
        .agg(
            F.sum("_nt").cast("bigint").alias("n_tokens"),
            F.sum("_bytes").cast("bigint").alias("n_token_bytes"),
            F.max("_maxlen").cast("bigint").alias("max_token_len"),
        )
        .select(
            "source",
            "n_tokens",
            "n_token_bytes",
            F.expr("n_token_bytes * 1000 div n_tokens").cast("bigint").alias("bytes_per_token_milli"),
            "max_token_len",
        )
        .orderBy("source")
    )


ORACLE_TOKEN_LEN_PROFILE = f"""
WITH per AS (
  SELECT source,
         len({_TOKS})::BIGINT AS nt,
         list_sum(list_transform({_TOKS}, t -> length(t)))::BIGINT AS bytes,
         coalesce(list_max(list_transform({_TOKS}, t -> length(t))), 0)::BIGINT AS maxlen
  FROM documents
)
SELECT source, sum(nt)::BIGINT AS n_tokens, sum(bytes)::BIGINT AS n_token_bytes,
       (sum(bytes) * 1000 // sum(nt))::BIGINT AS bytes_per_token_milli,
       max(maxlen)::BIGINT AS max_token_len
FROM per GROUP BY source ORDER BY source
"""


# ------------------------------------------------------------- classifier calibration
def q_quality_calibration(spark, sf_dir):
    """Calibration curve of the fixed-weight quality classifier against an
    INDEPENDENT proxy gold label (the n_chars ≥ 200 length rule — the
    other rater from e_cohens_kappa): per 100-milli logit bucket, doc
    count and observed gold rate. A well-calibrated scorer's gold rate
    rises monotonically with the bucket; a flat curve means the logit is
    noise and its threshold (x_quality_classifier's keep gate) is
    arbitrary. The audit run before trusting any learned filter at corpus
    scale.

    Shape: the classifier is the shared map-only operator; ONE hash agg
    over (bucket) with conditional sums — exact integers, milli rate by
    integer division."""
    from ..operators import text as _text

    cls = _text.quality_classifier(_docs_par(spark, sf_dir)).select(
        "doc_id", "logit_milli"
    )
    gold = _docs_par(spark, sf_dir).select(
        "doc_id", (F.col("n_chars") >= 200).cast("bigint").alias("gold")
    )
    return (
        cls.join(gold, "doc_id")
        .withColumn("bucket", F.expr("logit_milli div 100"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("gold").cast("bigint").alias("n_gold"),
        )
        .select(
            F.col("bucket").cast("bigint").alias("bucket"),
            "n_docs",
            "n_gold",
            F.expr("n_gold * 1000 div n_docs").cast("bigint").alias("gold_rate_milli"),
        )
        .orderBy("bucket")
    )


def _oracle_quality_calibration() -> str:
    return f"""
WITH cls AS ({ORACLE_QUALITY_CLASSIFIER}),
j AS (
  SELECT c.doc_id, c.logit_milli, (d.n_chars >= 200)::BIGINT AS gold
  FROM cls c JOIN documents d USING (doc_id)
)
SELECT (logit_milli // 100)::BIGINT AS bucket,  -- DuckDB integer // truncates toward zero, same as Spark div
       count(*)::BIGINT AS n_docs, sum(gold)::BIGINT AS n_gold,
       (sum(gold) * 1000 // count(*))::BIGINT AS gold_rate_milli
FROM j GROUP BY 1 ORDER BY 1
"""


# ------------------------------------------------------------- context-length histogram
def q_context_len_hist(spark, sf_dir):
    """Sequence-length planning histogram: docs and token mass per
    power-of-2 token-length bin, with each bin's milli share of total
    tokens — the distribution a packing stage (x_seq_pack) reads to pick
    the context length: bins above the context leak truncation, bins far
    below it leak padding/packing overhead. Bins are exact integer
    bit-lengths (floor(log2) with no float log — the e_funnel_latency
    idiom), so both engines agree bit-for-bit.

    One map pass (token count per doc is an array expression), one hash
    agg over ≤ ~40 bins, one broadcast total."""
    d = _docs_par(spark, sf_dir)
    toks = dedup.whitespace_tokens(dedup.normalize_text(F.col("text")))
    per = d.select(F.size(toks).cast("bigint").alias("_nt")).filter(F.col("_nt") > 0)
    # bit-length bin without float log: position of the highest set bit
    binned = per.select(
        "_nt",
        (F.length(F.conv(F.col("_nt").cast("string"), 10, 2)) - 1)
        .cast("bigint")
        .alias("len_bin"),
    )
    agg = binned.groupBy("len_bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("_nt").cast("bigint").alias("n_tokens"),
    )
    tot = agg.agg(F.sum("n_tokens").cast("bigint").alias("_tt"))
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            "len_bin",
            "n_docs",
            "n_tokens",
            F.expr("n_tokens * 1000 div _tt").cast("bigint").alias("token_share_milli"),
        )
        .orderBy("len_bin")
    )


ORACLE_CONTEXT_LEN_HIST = f"""
WITH per AS (
  SELECT len({_TOKS})::BIGINT AS nt FROM documents
  WHERE len({_TOKS}) > 0
),
agg AS (
  SELECT (length(bin(nt)) - 1)::BIGINT AS len_bin, count(*)::BIGINT AS n_docs,
         sum(nt)::BIGINT AS n_tokens
  FROM per GROUP BY 1
),
t AS (SELECT sum(n_tokens)::BIGINT AS tt FROM agg)
SELECT len_bin, n_docs, n_tokens,
       (n_tokens * 1000 // t.tt)::BIGINT AS token_share_milli
FROM agg, t ORDER BY len_bin
"""


# ------------------------------------------------------------- rare-token docs
def q_rare_token_docs(spark, sf_dir):
    """OCR-garbage / gibberish detector: the 20 docs with the highest
    share of corpus-RARE tokens (document frequency ≤ 2), milli grid,
    ties broken by doc_id — a high rare share means the doc's vocabulary
    appears nowhere else: scanner noise, hex dumps, mangled encodings.
    The distributional complement of x_repetition_filter (which catches
    the opposite failure).

    Scale shape: the document-frequency table is one (token → df) hash
    agg over distinct (doc, token) pairs (Heaps-law small next to the
    token stream); per-doc rare counts are one token-keyed join + one
    doc-keyed agg; the final cut is TakeOrdered(20), never a global
    sort."""
    d = _docs_par(spark, sf_dir)
    toks = dedup.whitespace_tokens(dedup.normalize_text(F.col("text")))
    dt = d.select("doc_id", F.explode(toks).alias("tok"))
    df_tab = (
        dt.select("doc_id", "tok").distinct()
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    )
    per = (
        dt.join(df_tab, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum((F.col("df") <= 2).cast("bigint")).cast("bigint").alias("n_rare"),
        )
        .withColumn("rare_milli", F.expr("n_rare * 1000 div n_tokens"))
    )
    return per.orderBy(F.col("rare_milli").desc(), "doc_id").limit(20).select(
        "doc_id", "n_tokens", "n_rare", "rare_milli"
    )


ORACLE_RARE_TOKEN_DOCS = f"""
WITH dt AS (
  SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
),
df_tab AS (
  SELECT tok, count(*)::BIGINT AS df
  FROM (SELECT DISTINCT doc_id, tok FROM dt) GROUP BY tok
),
per AS (
  SELECT dt.doc_id, count(*)::BIGINT AS n_tokens,
         sum((f.df <= 2)::BIGINT)::BIGINT AS n_rare
  FROM dt JOIN df_tab f USING (tok)
  GROUP BY dt.doc_id
)
SELECT doc_id, n_tokens, n_rare,
       (n_rare * 1000 // n_tokens)::BIGINT AS rare_milli
FROM per
ORDER BY rare_milli DESC, doc_id LIMIT 20
"""


SPECS = [
    QuerySpec("x_fingerprint", q_fingerprint, ORACLE_FINGERPRINT, tags=("llm", "text")),
    QuerySpec("x_token_stats", q_token_stats, ORACLE_TOKEN_STATS, tags=("llm", "text")),
    QuerySpec("x_quality_score", q_quality, ORACLE_QUALITY, tags=("llm", "text")),
    QuerySpec("x_lang_id", q_lang_id, ORACLE_LANG_ID, tags=("llm", "text")),
    QuerySpec("x_hash_split", q_hash_split, ORACLE_HASH_SPLIT, tags=("llm", "text")),
    QuerySpec("x_vocab_topk", q_vocab_topk, ORACLE_VOCAB_TOPK,
              doc="corpus vocabulary: top-500 tokens by document frequency",
              tags=("llm", "text")),
    QuerySpec("x_ngram_counts", q_ngram_counts, ORACLE_NGRAM_COUNTS,
              doc="corpus bigram frequency table, top-300 by df",
              tags=("llm", "text")),
    QuerySpec("x_cms_heavy_hitters", q_cms_heavy_hitters, _oracle_cms(),
              doc="count-min sketch: top-20 token frequencies, estimate vs exact",
              tags=("llm", "text", "sketch")),
    QuerySpec("x_stratified_sample", q_stratified_sample, ORACLE_STRATIFIED, tags=("llm", "text")),
    QuerySpec("x_seq_pack", q_seq_pack, ORACLE_SEQ_PACK, tags=("llm", "text")),
    QuerySpec("x_pii_redact", q_pii_redact, ORACLE_PII, tags=("llm", "text")),
    QuerySpec("x_repetition_filter", q_repetition_filter, ORACLE_REPETITION, tags=("llm", "text")),
    QuerySpec("x_bpe_train", q_bpe_train, ORACLE_BPE_TRAIN,
              doc="BPE tokenizer training: 3 learned merges over the word-frequency table",
              tags=("llm", "text", "iterative")),
    QuerySpec("x_lm_score", q_lm_score, ORACLE_LM_SCORE,
              doc="bigram-LM perplexity-proxy quality score, integer-surprisal parity",
              tags=("llm", "text")),
    QuerySpec("x_tfidf_topk", q_tfidf_topk, ORACLE_TFIDF_TOPK,
              doc="per-doc top-3 TF-IDF salience terms", tags=("llm", "text")),
    QuerySpec("x_bm25_rank", q_bm25_rank, ORACLE_BM25,
              doc="BM25 top-20 docs for a fixed query-term set", tags=("llm", "text")),
    QuerySpec("x_dsir_resample", q_dsir_resample, ORACLE_DSIR,
              doc="DSIR importance resampling: milli-nat LLR weight under raw vs target bigram LMs",
              tags=("llm", "text", "sampling")),
    QuerySpec("x_quality_classifier", q_quality_classifier, ORACLE_QUALITY_CLASSIFIER,
              doc="frozen-weight linear quality classifier, integer milli-grid logit + band",
              tags=("llm", "text", "quality")),
    QuerySpec("x_feature_hash", q_feature_hash, ORACLE_FEATURE_HASH,
              doc="hashing-trick sparse doc vectors: vocabulary-free, one explode + one agg",
              tags=("llm", "text", "similarity")),
    QuerySpec("x_shard_manifest", q_shard_manifest, ORACLE_SHARD_MANIFEST,
              doc="deterministic 64-shard training manifest: per-shard doc/token/byte totals",
              tags=("llm", "text", "sampling")),
    QuerySpec("x_ccnet_bucket", q_ccnet_bucket, ORACLE_CCNET_BUCKET,
              doc="CCNet head/middle/tail perplexity terciles via value-histogram thresholds",
              tags=("llm", "text", "sampling")),
    QuerySpec("x_pmi_collocations", q_pmi_collocations, ORACLE_PMI,
              doc="top-100 PMI collocations: multi-word vocabulary signal, broadcast corpus stats",
              tags=("llm", "text")),
    QuerySpec("x_rag_chunks", q_rag_chunks, ORACLE_RAG_CHUNKS,
              doc="overlapping 64/32 token RAG chunks with portable fingerprints, JVM-side fan-out",
              tags=("llm", "text", "retrieval")),
    QuerySpec("x_bpe_apply", q_bpe_apply, ORACLE_BPE_APPLY,
              doc="BPE encode at corpus scale: encoded-vocab join-back, per-doc raw vs merged symbol counts",
              tags=("llm", "text", "tokenizer")),
    QuerySpec("x_ngram_diversity", q_ngram_diversity, ORACLE_NGRAM_DIVERSITY,
              doc="per-source distinct-trigram diversity ratio — mode-collapse gauge",
              tags=("llm", "text", "stats")),
    QuerySpec("x_boilerplate", q_boilerplate, ORACLE_BOILERPLATE,
              doc="per-source boilerplate-prefix detection (shared normalized n-token openings)",
              tags=("llm", "text")),
    QuerySpec("x_backoff_lm", q_backoff_lm, ORACLE_BACKOFF_LM,
              doc="stupid-backoff trigram LM: held-out split scored against the complement's counts",
              tags=("llm", "text")),
    QuerySpec("x_curriculum_order", q_curriculum_order, ORACLE_CURRICULUM_ORDER,
              doc="curriculum warmup/main/anneal phases by cumulative token budget on the quality-logit grid",
              tags=("llm", "text", "scale")),
    QuerySpec("x_token_fertility", q_token_fertility, ORACLE_TOKEN_FERTILITY,
              doc="per-language tokenizer fertility: chars/token and tokens/doc on milli-grids",
              tags=("llm", "text", "stats")),
    QuerySpec("x_chi2_terms", q_chi2_terms, ORACLE_CHI2_TERMS,
              doc="chi-square feature selection: top-50 tokens discriminating en vs non-en by doc frequency",
              tags=("llm", "eval", "text")),
    QuerySpec("x_span_corruption", q_span_corruption, ORACLE_SPAN_CORRUPTION,
              doc="T5-style span corruption: hash-chosen spans, sentinel input/target pair per doc, UDF-free",
              tags=("llm", "text", "training")),
    QuerySpec("x_gopher_rules", q_gopher_rules, ORACLE_GOPHER_RULES,
              doc="Gopher quality-rule attrition funnel: per-rule reject counts + all-rules survivors",
              tags=("llm", "text", "curation")),
    QuerySpec("x_vocab_growth", q_vocab_growth, ORACLE_VOCAB_GROWTH,
              doc="Heaps-law vocabulary growth over 10 corpus prefixes via first-seen-bucket decomposition",
              tags=("llm", "text", "stats")),
    QuerySpec("x_coverage_curve", q_coverage_curve, ORACLE_COVERAGE_CURVE,
              doc="vocabulary coverage at top-10/100/1000 token types via distributed rank + prefix mass",
              tags=("llm", "tokenizer", "stats")),
    QuerySpec("x_safety_screen", q_safety_screen, ORACLE_SAFETY_SCREEN,
              doc="blocklist policy screen: broadcast term->category table, per-category flag counts/rates + union row",
              tags=("llm", "filter", "safety")),
    QuerySpec("x_entropy_filter", q_entropy_filter, ORACLE_ENTROPY_FILTER,
              doc="per-doc unigram entropy in floored milli-nats; 20 most repetitive docs",
              tags=("llm", "quality", "filter")),
    QuerySpec("x_zipf_fit", q_zipf_fit, ORACLE_ZIPF_FIT,
              doc="Zipf spectrum fit: ilog2 frequency bins + integer OLS slope, no global rank sort",
              tags=("llm", "text", "stats")),
    QuerySpec("x_code_detect", q_code_detect, ORACLE_CODE_DETECT,
              doc="code-vs-prose screen via exact symbol/digit density milli grids (regex length diffs, zero shuffles)",
              tags=("llm", "text")),
    QuerySpec("x_vocab_overlap_sources", q_vocab_overlap_sources, ORACLE_VOCAB_OVERLAP_SOURCES,
              doc="pairwise source vocabulary Jaccard + smaller-side containment (set-overlap complement of x_source_divergence)",
              tags=("llm", "text", "eval")),
    QuerySpec("x_readability", q_readability, ORACLE_READABILITY,
              doc="Flesch-style readability banding on the integer-milli grid (5-band histogram)",
              tags=("llm", "text", "quality")),
    QuerySpec("x_bpe_compression", q_bpe_compression, _bpe_compression_oracle(),
              doc="per-source BPE compression ratio — tokenizer-fit dashboard (rides the trained vocab)",
              tags=("llm", "text", "tokenizer")),
    QuerySpec("x_ttr_sources", q_ttr_sources, ORACLE_TTR_SOURCES,
              doc="type-token ratio per source — lexical-diversity / boilerplate signal",
              tags=("llm", "text", "stats")),
    QuerySpec("x_char_class_mix", q_char_class_mix, ORACLE_CHAR_CLASS_MIX,
              doc="per-source char-class composition (alpha/digit/space/other milli) — the text-vs-markup feed screen",
              tags=("llm", "text", "quality")),
    QuerySpec("x_token_len_profile", q_token_len_profile, ORACLE_TOKEN_LEN_PROFILE,
              doc="per-source bytes-per-token fertility proxy + longest token, pure array expressions",
              tags=("llm", "text", "tokenize")),
    QuerySpec("x_quality_calibration", q_quality_calibration, _oracle_quality_calibration(),
              doc="calibration curve of the quality classifier vs the independent length gold, per logit bucket",
              tags=("llm", "text", "quality", "eval")),
    QuerySpec("x_context_len_hist", q_context_len_hist, ORACLE_CONTEXT_LEN_HIST,
              doc="docs/token mass per power-of-2 token-length bin + token share — the context-length planning histogram",
              tags=("llm", "text", "tokenize")),
    QuerySpec("x_rare_token_docs", q_rare_token_docs, ORACLE_RARE_TOKEN_DOCS,
              doc="top-20 docs by corpus-rare-token share (df<=2) — the OCR-garbage detector",
              tags=("llm", "text", "quality")),
]
