"""Driver contract for the spark-graft builder (PySpark target).

entry(spark): flagship end-to-end near-duplicate dedup of the sf0.001
``documents`` table mapped to the BASELINE corpus shape; returns the
clusters DataFrame (one row per input row with its cluster_id).

queries()/oracle_sql(): one entry per implemented operator from SURVEY.md §2
plus the training-data extras (text quality, n-gram Jaccard, embedding
similarity search, multimodal plumbing); see nise_dedup/queries.py for the
registry and the type-parity notes.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from nise_dedup.config import DedupConfig
    from nise_dedup.pipeline import run_pipeline
    from nise_dedup.queries import docs_as_corpus

    corpus = docs_as_corpus(spark, SF0001)
    res = run_pipeline(spark, corpus, DedupConfig())
    return res.clusters


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from nise_dedup.queries import REGISTRY
    return {name: fn for name, (fn, _sql) in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    from nise_dedup.queries import REGISTRY
    return {name: sql for name, (_fn, sql) in REGISTRY.items()
            if sql is not None}
