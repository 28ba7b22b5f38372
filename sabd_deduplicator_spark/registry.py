"""Query registry backing __spark_entry__.py.

Every implemented operator registers a named query (callable taking
``(spark, sf_dir) -> DataFrame``) and — unless genuinely not expressible in
ANSI SQL — a DuckDB oracle string. The driver hash-matches the two at sf=0.01.

Rule (SURVEY.md §2.C): only register once it hash-matches locally; alias every
computed column identically in both dialects.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query; ``oracle=None`` means rows-only driver check
    (reserved for non-SQL-expressible ops, e.g. MinHashLSH, approx sketches)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            # tolerate re-registration of the same function (the package can
            # be imported under two sys.path roots by an external harness);
            # genuinely conflicting registrations still fail loudly
            if QUERIES[name].__qualname__ != fn.__qualname__:
                raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all_queries() -> None:
    """Import every module that registers queries (idempotent)."""
    from sabd_deduplicator_spark.operators import (  # noqa: F401
        cdc,
        chunker,
        dedup,
        dedup_clusters,
        encode,
        encoded_file,
        llm_pipeline,
        lookups,
        minhash_index,
        multimodal,
        relational,
        similarity,
        sketches,
        text,
        udx,
    )
    from sabd_deduplicator_spark.streaming import registered  # noqa: F401
