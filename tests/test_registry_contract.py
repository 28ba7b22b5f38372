"""Contract hygiene: the driver consumes __spark_entry__ blindly — these
tests pin the invariants it depends on."""

from __future__ import annotations

import re

import __spark_entry__ as entrymod
from sabd_deduplicator_spark.catalog import TABLES


def test_contract_shape():
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert len(q) >= 60
    assert set(o) <= set(q)
    for name, fn in q.items():
        assert re.fullmatch(r"[a-z][a-z0-9_]+", name), name
        assert callable(fn)
    for name, sql in o.items():
        assert isinstance(sql, str) and sql.strip(), name
    # r5: the md5-permuted MinHash sketch is oracle-checkable end-to-end —
    # a regression back to engine-specific hashing would drop this key.
    assert "minhash_lsh_neardup" in o


def test_oracles_reference_only_registered_views():
    """Every table name an oracle references must be one of the driver's
    pre-registered views (a typo here fails silently at the gate)."""
    o = entrymod.oracle_sql()
    candidates = set(TABLES)
    for name, sql in o.items():
        # (?<!DISTINCT ) skips the null-safe comparison operator
        # `IS NOT DISTINCT FROM x`, whose right operand is not a relation
        toks = set(
            re.findall(
                r"(?<!DISTINCT )\bFROM\s+([a-z_][a-z0-9_]*)\b", sql, re.IGNORECASE
            )
        )
        toks |= set(re.findall(r"\bJOIN\s+([a-z_][a-z0-9_]*)\b", sql, re.IGNORECASE))
        unknown = {
            t.lower()
            for t in toks
            if t.lower() not in candidates
            # CTE/alias names declared inside the same statement are fine
            # (DuckDB also allows `name AS MATERIALIZED (...)` — used by the
            # chained/iterative oracles to stop exponential CTE re-inlining)
            and not re.search(rf"\b{t}\s+AS\s*(MATERIALIZED\s+)?\(", sql, re.IGNORECASE)
            and not re.search(rf"\({{0}}\b{t}\b\s*\(", sql)
        }
        # anything still unknown must appear as an inline alias target `) x`
        for t in sorted(unknown):
            assert re.search(rf"\)\s*(AS\s+)?{t}\b", sql, re.IGNORECASE) or re.search(
                rf"\b{t}\s*\(", sql
            ), f"{name}: oracle references unknown relation {t!r}"


def test_all_registered_outputs_scalar_typed(built_queries):
    """The driver's canonicalizer sorts every output column with pandas;
    array/map/struct columns crash it (round-2 red row: label_centroids).
    Every registered query must emit only scalar-typed columns. Builds come
    from the session-shared cache: constructing the streaming/CC queries
    executes their full drains, so rebuilding every query here would re-run a
    large fraction of the workload just to read schemas (advisor, round 4)."""
    from pyspark.sql import types as T

    from sabd_deduplicator_spark import registry

    registry.load_all_queries()
    complex_types = (T.ArrayType, T.MapType, T.StructType)
    offenders = []
    for name in sorted(registry.QUERIES):
        df = built_queries(name)
        bad = [
            f"{f.name}:{f.dataType.simpleString()}"
            for f in df.schema.fields
            if isinstance(f.dataType, complex_types)
        ]
        if bad:
            offenders.append(f"{name} -> {bad}")
    assert not offenders, "complex-typed output columns:\n" + "\n".join(offenders)


def test_entry_uses_sf0001(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert [f.name for f in df.schema.fields] == ["hash", "file_id", "line", "refs_num"]
