"""Fixed-size chunk scan (SURVEY.md §2.A #1).

Reference: /root/reference/lib/deduplicator/binary_utils.ex:14-24 splits a
binary into fixed-n-byte pieces (last piece may be short);
/root/reference/lib/deduplicator/files.ex:45-56 streams a file through it.

Spark-first design: chunking is a *generator expression* — one
``regexp_extract_all`` scan of the row's text (``char_pieces``) →
``posexplode`` — fully inside whole-stage codegen, no Python. One linear pass
per document, like the reference's splitter: a ``substring(text, i, n)`` per
chunk would re-count characters from the string's first byte on every call,
O(len²) per document. The stream position becomes an explicit ``line``
column (Spark has no implicit row order; SURVEY.md §4 hazard 1). At 100 TB
this runs embarrassingly parallel per input row with zero shuffle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sabd_deduplicator_spark import catalog
from sabd_deduplicator_spark.registry import query

DEFAULT_CHUNK_SIZE = 16


def char_pieces(text: str | Column, n: int, *, windows: bool = False) -> Column:
    """One array per row of ``text``'s ≤``n``-char chunks (the last may be
    short), or with ``windows=True`` of its stride-1 ``n``-char windows, in
    character (code point) units — both from ONE linear regex scan. NULL
    text gives NULL, text shorter than ``n`` no windows, "" nothing.
    ``text`` is a column name or any string Column, a lambda variable of a
    higher-order function included.

    Windows are zero-width lookahead matches. Java advances past an empty
    match by one UTF-16 unit, so the negative lookahead keeps a window from
    starting on the low half of a surrogate pair (a supplementary-plane
    character). The regex sees the row as a Java string, which turns
    malformed UTF-8 into U+FFFD; such rows (``is_valid_utf8`` false) keep
    the positional ``substring`` definition, O(len²) but byte-exact, so
    recovery of arbitrary bytes stays exact."""
    t = F.col(text) if isinstance(text, str) else text
    width = F.lit(n)
    if windows:
        scan = F.regexp_extract_all(
            t, F.lit(rf"(?s)(?![\x{{DC00}}-\x{{DFFF}}])(?=(.{{{n}}}))"), F.lit(1)
        )
        positional = F.when(F.length(t) < n, F.array()).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.length(t) - n + 1), lambda i: t.substr(i, width)
            )
        )
    else:
        scan = F.regexp_extract_all(t, F.lit(f"(?s).{{1,{n}}}"), F.lit(0))
        # only NULL (→ NULL) and malformed rows get here, and a malformed
        # row is never empty, so the descending sequence(0, -1) cannot arise
        positional = F.transform(
            F.sequence(F.lit(0), F.ceil(F.length(t) / n).cast("int") - 1),
            lambda i: t.substr(i * n + 1, width),
        )
    return F.when(F.is_valid_utf8(t), scan).otherwise(positional)


def chunk_fixed(
    df: DataFrame,
    text_col: str = "text",
    id_cols: Sequence[str] = ("doc_id",),
    size: int = DEFAULT_CHUNK_SIZE,
) -> DataFrame:
    """Explode ``text_col`` into ≤``size``-char chunks with a 0-based ``line``
    (``char_pieces``: one scan per document). Empty and NULL text yield zero
    chunks (binary_utils.ex:16-17 base case)."""
    if size <= 0:
        raise ValueError("chunk size must be positive")
    return df.select(
        *id_cols, F.posexplode(char_pieces(text_col, size)).alias("line", "chunk")
    ).withColumn("line", F.col("line").cast("long"))


def chunks_cte(size: int = DEFAULT_CHUNK_SIZE) -> str:
    """DuckDB CTE producing the identical (doc_id, line, chunk) relation over
    ``documents`` — shared by every dedup-family oracle."""
    # DuckDB 1.0 rejects lateral column args to the generate_series TABLE
    # function; scalar range() + unnest() in a projection is the portable form.
    return (
        f"SELECT doc_id, CAST(i AS BIGINT) AS line, "
        f"substring(text, CAST(i * {size} + 1 AS INT), {size}) AS chunk "
        f"FROM (SELECT doc_id, text, "
        f"unnest(range(0, CAST(ceil(length(text) / {size}.0) AS BIGINT))) AS i "
        f"FROM documents) u"
    )


def doc_chunks(spark: SparkSession, sf_dir: str, size: int = DEFAULT_CHUNK_SIZE) -> DataFrame:
    """(doc_id, line, chunk) over the driver's ``documents`` table."""
    return chunk_fixed(catalog.table(spark, sf_dir, "documents"), size=size)


@query(
    "chunk_scan_fixed",
    oracle=f"SELECT doc_id, line, chunk FROM ({chunks_cte()}) c",
)
def chunk_scan_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_chunks(spark, sf_dir)


@query(
    "chunk_scan_invariants",
    oracle=(
        # Chunker invariants from the reference's unit tests
        # (test/deduplicator_test.exs:25-47): per file, chunk sizes sum to the
        # original length, count = ceil(len/size), max line = count-1,
        # and every chunk except possibly the last is exactly `size` long.
        f"SELECT c.doc_id, "
        f"CAST(sum(length(c.chunk)) AS BIGINT) AS total_chars, "
        f"count(*) AS n_chunks, "
        f"CAST(max(c.line) AS BIGINT) AS max_line, "
        f"CAST(sum(CASE WHEN length(c.chunk) = {DEFAULT_CHUNK_SIZE} THEN 0 ELSE 1 END) AS BIGINT) AS n_short "
        f"FROM ({chunks_cte()}) c GROUP BY c.doc_id"
    ),
)
def chunk_scan_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = doc_chunks(spark, sf_dir)
    return c.groupBy("doc_id").agg(
        F.sum(F.length("chunk")).alias("total_chars"),
        F.count("*").alias("n_chunks"),
        F.max("line").alias("max_line"),
        F.sum(
            F.when(F.length("chunk") == DEFAULT_CHUNK_SIZE, 0).otherwise(1)
        ).cast("long").alias("n_short"),
    )
