"""Query catalog: every implemented operator exposed as a named query.

Each entry pairs a Spark implementation (spark, sf_dir) -> DataFrame
with an equivalent DuckDB oracle SQL (None for genuinely
non-SQL-expressible ops, which get a weaker rows-only check by the
driver).  Column names/aliases are kept identical on both sides — the
driver's comparator sorts columns by name before hashing.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)
    #: For rows-only entries (oracle=None): the catalog name of the
    #: oracle-checked exact twin that hard-verifies the same pipeline
    #: (e.g. the md5/int-quantized variant).  Every rows-only entry
    #: must name one — enforced by tests/test_catalog_schemas.py.
    exact_twin: str | None = None


#: Second names of one computation: each alias resolves to the very
#: QuerySpec of the entry it names, so `all_queries()` serves both names
#: while the differential and the sweeps run the computation once.
ALIASES: dict[str, str] = {
    "doc_bpe_train_local": "doc_bpe_train",
    "doc_bpe_apply_stored": "doc_bpe_apply",
    "doc_bpe_train_grouped_local": "doc_bpe_train_grouped",
    "doc_bpe_budget_retrain_local": "doc_bpe_budget_retrain",
    "emb_ann_ivf_int": "emb_ann_ivf",
    "emb_ann_lsh_int": "emb_ann_lsh",
}


def all_queries() -> dict[str, QuerySpec]:
    from metrics_service_spark.catalog import (
        core,
        functions_suite,
        gold,
        joins,
        landing,
        llm,
        multimodal,
        request,
        search,
        tpch,
    )

    merged: dict[str, QuerySpec] = {}
    for mod in (
        core,
        joins,
        tpch,
        llm,
        landing,
        multimodal,
        gold,
        functions_suite,
        search,
        request,
    ):
        overlap = merged.keys() & mod.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query names: {overlap}")
        merged.update(mod.QUERIES)

    overlap = merged.keys() & ALIASES.keys()
    if overlap:
        raise ValueError(f"aliases shadow query names: {overlap}")
    merged.update({alias: merged[name] for alias, name in ALIASES.items()})
    return merged
