"""Tokenization (reference UDTF surface).

Reference: ``SplitFunction`` UDTF (R/app/func/SplitFunction.java:11-22) wraps
the IK Chinese analyzer (R/utils/KeyWordUtil.java:12-28, smart=false
max-word mode) and is consumed as ``LATERAL TABLE(SplitFunction(item))``
(R/app/dws/DwsTrafficSourceKeywordPageViewWindow.java:134-141).

IK itself is a dictionary tokenizer we can't ship; the deterministic
replacement mirrors its two public modes over a small built-in lexicon:

  - latin/digit runs are tokens (lowercased);
  - CJK runs go through dictionary matching against ``CJK_LEXICON``:
      * ``max_word`` (IK smart=false, what KeyWordUtil uses): emit EVERY
        lexicon word occurring in the run, longest-first at each position
        (IK's exhaustive enumeration), then cover any positions no word
        touched with the bigram fallback;
      * ``smart``: non-overlapping forward longest-match; unmatched single
        chars emitted as-is.
  - runs with no dictionary hits fall back to all bigrams (single char for
    length-1 runs) — an approximation, still deterministic.

The lexicon is intentionally small (common e-commerce/search nouns from the
reference's keyword domain) and extensible at call time. Documented as a
semantic approximation (SURVEY.md §2.7 U2). For oracle-checked queries we
use plain whitespace ``split`` (expressible in both engines); this full
tokenizer backs the UDF/UDTF surface and unit tests.
"""

from __future__ import annotations

import re

import pandas as pd

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

_RUN = re.compile(r"[A-Za-z0-9]+|[一-鿿]+")

# Common zh-CN e-commerce / search nouns (the reference's keyword domain:
# product words a gmall keyword pipeline actually sees). Public vocabulary.
CJK_LEXICON: frozenset[str] = frozenset(
    {
        "苹果", "手机", "小米", "电视", "图书", "口红", "海尔", "联想",
        "电脑", "笔记本", "笔记本电脑", "机械", "键盘", "机械键盘", "鼠标",
        "智能", "智能手机", "大数据", "数据", "数据仓库", "实时", "项目",
        "尚硅谷", "平板", "平板电视", "洗衣机", "冰箱", "空调", "耳机",
        "蓝牙", "蓝牙耳机", "充电", "充电器", "手表", "智能手表",
    }
)
_MAX_WORD_LEN = max(len(w) for w in CJK_LEXICON)


def _max_word_len(lexicon: frozenset[str]) -> int:
    """Longest dictionary entry for the *given* lexicon — computed from the
    argument (not the built-in) so call-time custom lexicons with words
    longer than the built-in max are still matched. Single-char entries are
    intentionally excluded from dictionary matching (the match loop stops at
    length 2, mirroring IK's CJK segmenter which treats single chars as the
    fallback path, not dictionary words)."""
    if lexicon is CJK_LEXICON:
        return _MAX_WORD_LEN
    return max((len(w) for w in lexicon), default=0)


def _cjk_max_word(run: str, lexicon: frozenset[str]) -> list[str]:
    """IK smart=false analog: every lexicon word in the run (longest first
    per start position), bigram fallback over uncovered stretches."""
    out: list[str] = []
    max_len = _max_word_len(lexicon)
    covered = [False] * len(run)
    for i in range(len(run)):
        for L in range(min(max_len, len(run) - i), 1, -1):
            w = run[i : i + L]
            if w in lexicon:
                out.append(w)
                for j in range(i, i + L):
                    covered[j] = True
    # bigram fallback over maximal uncovered stretches
    i = 0
    while i < len(run):
        if covered[i]:
            i += 1
            continue
        j = i
        while j < len(run) and not covered[j]:
            j += 1
        stretch = run[i:j]
        if len(stretch) == 1:
            out.append(stretch)
        else:
            out.extend(stretch[k : k + 2] for k in range(len(stretch) - 1))
        i = j
    return out


def _cjk_smart(run: str, lexicon: frozenset[str]) -> list[str]:
    """IK smart=true analog: non-overlapping forward longest-match; singles
    for unmatched chars."""
    out: list[str] = []
    max_len = _max_word_len(lexicon)
    i = 0
    while i < len(run):
        for L in range(min(max_len, len(run) - i), 1, -1):
            if run[i : i + L] in lexicon:
                out.append(run[i : i + L])
                i += L
                break
        else:
            out.append(run[i])
            i += 1
    return out


def tokenize_text(
    text: str | None,
    mode: str = "max_word",
    lexicon: frozenset[str] = CJK_LEXICON,
) -> list[str]:
    """Pure-python tokenizer: latin/digit runs + dictionary-matched CJK."""
    if not text:
        return []
    out: list[str] = []
    for run in _RUN.findall(text):
        if run[0].isascii():
            out.append(run.lower())
        elif mode == "smart":
            out.extend(_cjk_smart(run, lexicon))
        else:
            out.extend(_cjk_max_word(run, lexicon))
    return out


@F.pandas_udf(ArrayType(StringType()))
def _tokenize_series(texts: pd.Series) -> pd.Series:
    """Arrow-batched tokenizer: one Python call per ~10k-row batch instead of
    one per row. At 100 TB this is the difference between a per-row
    Python round-trip (BatchEvalPython) and vectorized Arrow transfer
    (ArrowEvalPython) — the tokenizer kernel itself is unchanged."""
    return texts.apply(lambda t: tokenize_text(t) if isinstance(t, str) else [])


def register_split_udtf(spark: SparkSession, name: str = "split_words") -> None:
    """Register the UDTF analog: SQL ``explode(split_words(col))`` replaces
    Flink's ``LATERAL TABLE(SplitFunction(col))``. Registered as a pandas_udf
    so the SQL path is Arrow-batched too."""
    spark.udf.register(name, _tokenize_series)


def split_words(col: Column) -> Column:
    """DataFrame-side tokenizer column (array<string>), Arrow-batched."""
    return _tokenize_series(col)


def whitespace_tokens(col: Column) -> Column:
    """Oracle-portable tokenizer: non-empty whitespace-separated tokens."""
    return F.filter(F.split(col, r"\s+"), lambda t: t != F.lit(""))
