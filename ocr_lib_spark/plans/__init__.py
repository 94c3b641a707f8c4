"""Query plans: the engine's public query surface + DuckDB oracles.

Every entry maps to a SURVEY.md §2 operator (citation in each QueryDef).
``REGISTRY[name] -> QueryDef(fn(spark, sf_dir) -> DataFrame, oracle_sql)``.
Oracle SQL runs in DuckDB over pre-registered views of the same parquet.
Column names/types are aligned on both sides by contract.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional


@dataclass(frozen=True)
class QueryDef:
    fn: Callable  # (spark, sf_dir) -> DataFrame
    oracle: Optional[str]  # DuckDB SQL or None (rows-only check)
    doc: str = ""


def load(spark, sf_dir: str, name: str):
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def documents(spark, sf_dir: str):
    return load(spark, sf_dir, "documents")


def build_registry() -> dict:
    from ocr_lib_spark.plans import (
        agentops,
        curation,
        extraction,
        indexing,
        relational,
        textops,
        vectors,
    )

    reg: dict[str, QueryDef] = {}
    for mod in (extraction, relational, textops, vectors, curation, agentops, indexing):
        reg.update(mod.QUERIES)
    return reg
