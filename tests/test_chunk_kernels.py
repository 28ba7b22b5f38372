"""The linear chunk and window kernels against the positional definition.

Every chunker and window relation builds its pieces with one regex scan per
document (chunker.char_pieces). The definition they must reproduce, row for
row and byte for byte, is the positional one written inline below: a
``substring(text, i, n)`` per chunk or window over a ``sequence``. The inputs
cover NULL, empty, short and exact-width texts, line terminators, combining
marks, supplementary-plane characters (where a window must not start on the
low half of a surrogate pair) and a malformed UTF-8 row (whose pieces must
keep their exact bytes).
"""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from sabd_deduplicator_spark.operators.cdc import CDC_CUT_HEX, CDC_W, chunk_cdc
from sabd_deduplicator_spark.operators.chunker import char_pieces, chunk_fixed
from sabd_deduplicator_spark.operators.llm_pipeline import (
    SUBSTR_W,
    _fp_positions_df,
    _stride1_windows_df,
)

INVALID = "CAST(unhex('61C32862FF63646566676869') AS STRING)"
MIXED = "a\r\nb\u0085c d é ñ äöüñ 😀🇩🇪 x"
TEXTS = [
    None,
    "",
    "abc",
    "abcdefgh",  # exactly the small width
    "0123456789abcdef",  # exactly the fixed chunk size
    "0123456789abcdef0123456789abcdef",  # exactly SUBSTR_W
    "😀" * 40,
    "🇩🇪" * 20,
    MIXED,
    MIXED * 4,
    "the quick brown fox jumps over the lazy dog " * 6,
]


@pytest.fixture(scope="module")
def docs(spark):
    valid = spark.createDataFrame(
        list(enumerate(TEXTS)), "doc_id long, text string"
    )
    invalid = spark.sql(
        f"SELECT 100L AS doc_id, {INVALID} AS text "
        f"UNION ALL SELECT 101L, repeat({INVALID}, 4)"  # longer than SUBSTR_W
    )
    return valid.unionByName(invalid).cache()


def _fixed_positional(n: int) -> str:
    return (
        "CASE WHEN text IS NULL OR length(text) = 0 THEN array() ELSE "
        f"transform(sequence(0, CAST(ceil(length(text) / {n}.0) AS INT) - 1), "
        f"i -> substring(text, i * {n} + 1, {n})) END"
    )


def _windows_positional(n: int) -> str:
    return (
        f"CASE WHEN text IS NULL OR length(text) < {n} THEN array() ELSE "
        f"transform(sequence(1, length(text) - {n} + 1), "
        f"i -> substring(text, i, {n})) END"
    )


_CDC_POSITIONAL = (
    "CASE WHEN text IS NULL OR length(text) = 0 THEN array() ELSE "
    "flatten(transform(array("
    f"  CASE WHEN length(text) <= {CDC_W} THEN array() "
    f"  ELSE filter(sequence({CDC_W}, length(text) - 1), "
    f"  i -> substring(md5(substring(text, i - {CDC_W} + 1, {CDC_W})), 1, 2) "
    f"  < '{CDC_CUT_HEX}') END), "
    "c -> zip_with(concat(array(0), c), concat(c, array(length(text))), "
    "(s, e) -> substring(text, s + 1, e - s)))) END"
)


def _pieces(df):
    """(doc_id, line, hex bytes) — hex so malformed bytes compare exactly."""
    return sorted(
        (r[0], r[1], r[2])
        for r in df.select(
            "doc_id", "line", F.hex(F.col("chunk").cast("binary"))
        ).collect()
    )


def _exploded(docs, arr):
    return docs.select("doc_id", F.posexplode(arr).alias("line", "chunk"))


@pytest.mark.parametrize("size", [1, 4, 16])
def test_chunk_fixed_matches_positional(spark, docs, size):
    got = _pieces(chunk_fixed(docs, size=size))
    want = _pieces(_exploded(docs, F.expr(_fixed_positional(size))))
    assert got == want
    assert any(d == 100 for d, _, _ in got)  # the malformed row is chunked


@pytest.mark.parametrize("windows", [False, True])
def test_char_pieces_matches_positional(spark, docs, windows):
    n = 8
    ref = _windows_positional(n) if windows else _fixed_positional(n)
    got = _pieces(_exploded(docs, char_pieces("text", n, windows=windows)))
    assert got == _pieces(_exploded(docs, F.expr(ref)))
    # 40 astral characters: 33 windows (one per code point), 5 chunks
    per_doc = Counter(d for d, _, _ in got)
    assert per_doc[TEXTS.index("😀" * 40)] == (33 if windows else 5)


def test_invalid_row_keeps_its_bytes(spark, docs):
    """The malformed row's chunks and windows are byte slices of its own
    bytes: none carries the U+FFFD (EFBFBD) a regex scan would produce."""
    for windows in (False, True):
        rows = _pieces(
            _exploded(docs.filter("doc_id = 100"), char_pieces("text", 3, windows=windows))
        )
        assert rows and not any("EFBFBD" in h for _, _, h in rows)
    fixed = _pieces(chunk_fixed(docs.filter("doc_id = 100"), size=3))
    assert "".join(h for _, _, h in fixed) == "61C32862FF63646566676869"


@pytest.mark.parametrize(
    "relation,key", [(_stride1_windows_df, "md5"), (_fp_positions_df, "xxhash64")]
)
def test_window_relations_match_positional(spark, docs, relation, key):
    got = sorted(tuple(r) for r in relation(docs).select("doc_id", "i", "h").collect())
    want = sorted(
        tuple(r)
        for r in docs.select(
            "doc_id",
            F.posexplode(
                F.expr(f"transform({_windows_positional(SUBSTR_W)}, w -> {key}(w))")
            ).alias("i0", "h"),
        )
        .select("doc_id", (F.col("i0") + 1).cast("long").alias("i"), "h")
        .collect()
    )
    assert got == want
    per_doc = Counter(d for d, _, _ in got)
    assert per_doc[101] > 0  # the malformed row has windows
    assert per_doc[TEXTS.index("😀" * 40)] == 40 - SUBSTR_W + 1


def test_chunk_cdc_matches_positional(spark, docs):
    got = _pieces(chunk_cdc(docs))
    assert got == _pieces(_exploded(docs, F.expr(_CDC_POSITIONAL)))
    per_doc = Counter(d for d, _, _ in got)
    # every valid text but NULL and "", plus the two malformed rows
    assert len(per_doc) == len(TEXTS) - 2 + 2
    assert max(per_doc.values()) > 1  # content cuts were taken
