"""Byte-exact file-level roundtrip: DataFrame tokens → concatenated string →
fixed-width parse → decode must reproduce the original chunks exactly (the
reference's strongest end-to-end property, now at file granularity)."""

from __future__ import annotations

from pyspark.sql import functions as F

from sabd_deduplicator_spark.operators.chunker import chunk_fixed
from sabd_deduplicator_spark.operators.encode import decode_tokens, encode_chunks
from sabd_deduplicator_spark.operators.encoded_file import (
    encoded_file_string,
    frames_equal_unordered,
    parse_encoded_string,
)


def _docs(spark):
    payloads = [
        "abcdefgh" * 40,
        "AAAABBBBAAAA",
        "xyz",
        "mixed 0 and 1 markers inside text 0101",
    ]
    return spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)], "doc_id long, text string"
    )


def test_file_level_roundtrip(spark):
    size = 8
    chunks = chunk_fixed(_docs(spark), size=size)
    tokens = encode_chunks(chunks, file_col="doc_id")
    files = encoded_file_string(tokens)
    reparsed = parse_encoded_string(files, chunk_size=size)
    # parse must reproduce the token stream exactly (line + token)
    assert frames_equal_unordered(
        tokens.select("doc_id", "line", "token"),
        reparsed.select("doc_id", "line", "token"),
    )
    # and the full decode from the reparsed stream reproduces the chunks
    rec = decode_tokens(reparsed, file_col="doc_id")
    assert frames_equal_unordered(
        chunks.select("doc_id", "line", "chunk"),
        rec.select("doc_id", "line", "chunk"),
    )


def test_roundtrip_when_literals_are_shorter_than_pointers(spark):
    """chunk_size 2 under the default pointer width 4: a literal token (3
    chars) is shorter than a pointer (5 chars). Every token must come back,
    on the regex path and on the positional path of a malformed-UTF-8 row."""
    size = 2
    docs = spark.sql(
        "SELECT 0L AS doc_id, 'abcdefghijklmnopqrstuvwxyzABCD' AS text "
        "UNION ALL SELECT 1L, repeat('ab', 8) || 'c' "
        "UNION ALL SELECT 2L, CAST(unhex('61C32862FF636465666768696162') AS STRING)"
    )
    chunks = chunk_fixed(docs, size=size)
    tokens = encode_chunks(chunks, file_col="doc_id")
    reparsed = parse_encoded_string(encoded_file_string(tokens), chunk_size=size)
    counts = {r.doc_id: r.n for r in reparsed.groupBy("doc_id").agg(
        F.count("*").alias("n")).collect()}
    assert counts == {0: 15, 1: 9, 2: 7}
    assert frames_equal_unordered(
        tokens.select("doc_id", "line", "token"),
        reparsed.select("doc_id", "line", "token"),
    )
    rec = decode_tokens(reparsed, file_col="doc_id")
    assert frames_equal_unordered(
        chunks.select("doc_id", "line", "chunk"),
        rec.select("doc_id", "line", "chunk"),
    )

def test_encoded_string_is_ordered(spark):
    chunks = chunk_fixed(_docs(spark), size=4)
    tokens = encode_chunks(chunks, file_col="doc_id")
    files = encoded_file_string(tokens).collect()
    by_id = {r.doc_id: r.encoded for r in files}
    # doc 1 = AAAA BBBB AAAA → literal, literal, pointer-to-0
    assert by_id[1] == "0AAAA" + "0BBBB" + "10000"


def test_global_encode_points_across_files(spark):
    """Cross-file dedup: a file whose every chunk already occurred in an
    earlier file encodes to pointers ONLY, and decode resolves them across
    the file boundary byte-exactly."""
    from sabd_deduplicator_spark.operators.encode import (
        decode_tokens_global,
        encode_chunks_global,
    )

    docs = spark.createDataFrame(
        [(0, "AAAABBBB"), (1, "BBBBAAAA")], "doc_id long, text string"
    )
    chunks = chunk_fixed(docs, size=4)
    tokens = encode_chunks_global(chunks)
    assert tokens.filter("doc_id = 1 AND token LIKE '0%'").count() == 0
    by_tok = {
        (r.doc_id, r.line): r.token for r in tokens.collect()
    }
    assert by_tok[(1, 0)] == "1" + "000000" + "0001"  # BBBB → (file 0, line 1)
    assert by_tok[(1, 1)] == "1" + "000000" + "0000"  # AAAA → (file 0, line 0)
    got = {(r.doc_id, r.line): r.chunk for r in decode_tokens_global(tokens).collect()}
    want = {(r.doc_id, r.line): r.chunk for r in chunks.collect()}
    assert got == want


def test_frames_equal_unordered_detects_diff(spark):
    a = spark.createDataFrame([(1, "x"), (1, "x")], "id long, v string")
    b = spark.createDataFrame([(1, "x")], "id long, v string")
    assert not frames_equal_unordered(a, b)  # multiplicity matters
    assert frames_equal_unordered(a, a)


def test_salted_count_matches_plain(spark):
    from sabd_deduplicator_spark.functions.skew import salted_count

    df = spark.range(0, 10000).select(
        (F.col("id") % 7).alias("k")  # key 0..6, uniform — plus a hot key
    ).union(spark.range(0, 5000).select(F.lit(99).alias("k")))
    plain = {r.k: r.c for r in df.groupBy("k").agg(F.count("*").alias("c")).collect()}
    salted = {r.key: r.cnt for r in salted_count(df, "k").collect()}
    assert plain == salted
