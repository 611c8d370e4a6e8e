"""Named query registry.

Each entry pairs a Spark callable ``(spark, sf_dir) -> DataFrame`` with an
equivalent DuckDB oracle SQL string (None for non-SQL-expressible ops, which
get a rows-only check). Names map to SURVEY.md §2 operator ids; the Spark
side and the SQL side alias every computed column identically.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from collections.abc import Callable


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable  # (spark, sf_dir) -> DataFrame
    oracle: str | None  # DuckDB SQL or None → rows-only check
    doc: str = ""
    tags: tuple[str, ...] = ()


def registry() -> dict[str, QuerySpec]:
    from . import (
        analytics, artifactq, curationq, dedupq, dwd, evalq, gmall, graphq, mediaq, streamq,
        textq, tpch, tpch_ext, vectorq,
    )

    out: dict[str, QuerySpec] = {}
    for mod in (
        gmall, dwd, tpch, tpch_ext, analytics, dedupq, textq, vectorq, curationq, evalq,
        graphq, mediaq, artifactq, streamq,
    ):
        for spec in mod.SPECS:
            assert spec.name not in out, f"duplicate query name {spec.name}"
            out[spec.name] = spec
    return out
