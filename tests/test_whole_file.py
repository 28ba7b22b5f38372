"""Whole-file inputs: the paper's unit is a file, not a short document.

A single ~200k-char file goes through deduplicate → recover → reassemble
byte for byte (12.5k 16-char chunks, so the auto-sized pointer width is 5),
and the exact-substring cut keeps its tiling identity on a ~50k-char
document. Both stay quick only because every chunk and window is cut in one
linear scan of the document.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sabd_deduplicator_spark import api
from sabd_deduplicator_spark.operators.llm_pipeline import exactsubstr_cut
from tools.doc_length_curve import make_text


def test_one_large_file_roundtrips_byte_exact(spark):
    text = make_text(200_000, seed=7)
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    res = api.deduplicate(spark, docs, pointer_width=None)
    assert res.pointer_width == 5  # 12,500 chunks: lines 0..12499
    n_pointers = res.tokens.filter(F.col("token").startswith("1")).count()
    assert n_pointers > 0
    (row,) = api.reassemble(
        api.recover(res.tokens, pointer_width=res.pointer_width)
    ).collect()
    assert row.text.encode() == text.encode()


def test_cut_identity_on_one_large_document(spark):
    text = make_text(50_000, seed=11)
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    (row,) = exactsubstr_cut(docs).collect()
    assert row.chars_cut > 0 and row.n_cut_spans > 0
    assert len(text) == len(row.text) + row.chars_cut
