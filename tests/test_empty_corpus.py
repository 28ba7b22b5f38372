"""Degenerate-input robustness: every registered query must PLAN and RUN
against a corpus whose tables all have zero rows (same schemas), returning
an empty (or guard-defined) result instead of crashing.

This is the empty-table twin of the adversarial-config parity gate: the
failures it catches are real (the r4 ADVICE streaming-watermark TypeError
was exactly this class, and the sweep that produced this test found three
ANN paths crashing — a numpy AxisError in quantizer training, a numpy
stack of an empty sample, and a Catalyst CONSTANT-FOLDED 0/0 in the JL
sketch cosine that threw at plan time before a single row flowed).

Default run sweeps a representative subset (the three past crashers +
one query per family); SPARK_GRAFT_EMPTY_FULL=1 sweeps the whole registry
(~4 min).
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

SRC_SF = "/root/testdata/sf0.001"

SUBSET = [
    # the three that crashed when this gate was introduced
    "ann_ivf_topk",
    "ann_jl_rerank_topk",
    "ann_recall_vs_exact",
    # one per family: scan/dedup/encode/join/agg/window/set/text/stream-adj
    "chunk_scan_fixed",
    "dedup_hash_links",
    "dedup_encode_global",
    "roundtrip_recovery_global",
    "catalog_join",
    "window_first_last_frames",
    "set_ops_bag_semantics",
    "minhash_lsh_neardup",
    "minhash_lsh_neardup_capped",
    "simhash_neardup_pairs",
    "corpus_novelty_curve",
    "vocab_coverage_curve",
    "source_span_overlap",
    "neardup_method_agreement",
    "neardup_candidate_cost",
    "corpus_canonical_docs",
    "doc_unigram_logprob",
    "sequence_packing_bins",
    "media_feature_extract",
    "asof_latest_order_per_event",
    # r6 additions: CDC chunking, sketch audits, BM25 retrieval
    "chunk_scan_cdc",
    "dedup_cdc_vs_fixed",
    "cdc_encode_roundtrip",
    "dedup_cdc_encode_stats",
    "token_freq_cms_audit",
    "dedup_bloom_prefilter",
    "text_bm25_topk",
    "doc_feature_hash_vector",
    "streaming_cdc_ingest",
    "dedup_bloom_sweep",
    "bpe_first_merges",
    "cdc_chunk_length_histogram",
    # r6 late additions: stratum sketches + LM scoring + exact substrings
    "source_minhash_agreement",
    "doc_bigram_logprob",
    "source_unigram_kl",
    "repeated_substring_census",
    "doc_repeated_substring_flags",
    "repeated_span_extract",
    "embedding_knn_density",
    "sketch_order_locality",
    "minhash_band_tuning",
    "bpe_learn_merges",
    "bpe_sample_confidence",
    "corpus_zipf_slope",
    # r7: ExactSubstr cut stage wired into the funnel
    "corpus_build_funnel_cut",
    # r7: delta-vs-stored-index near-dup probe
    "minhash_incremental_delta",
    "minhash_index_probe",
    "streaming_dedup_eviction_audit",
    "repeated_substring_census_fast",
    # r7: gate-threshold calibration sweep
    "quality_gate_sweep",
    # r9: index rebuild monitor (driver-side count + stored-stats reads) +
    # corpus-wide BPE apply (driver-side merge table)
    "minhash_index_staleness",
    "bpe_encode_docs",
    # r9: bucketed-target MERGE (driver-side memoized snapshot build)
    "merge_apply_changes_bucketed",
]


@pytest.fixture(scope="module")
def empty_sf(tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("sf_empty")
    for f in os.listdir(SRC_SF):
        if f.endswith(".parquet"):
            schema = pq.read_schema(os.path.join(SRC_SF, f))
            pq.write_table(
                pa.table(
                    {n: pa.array([], type=schema.field(n).type) for n in schema.names}
                ),
                str(d / f),
            )
    return str(d)


def test_every_query_survives_an_empty_corpus(spark, empty_sf):
    import __spark_entry__ as entry

    qs = entry.queries()
    names = (
        sorted(qs)
        if os.environ.get("SPARK_GRAFT_EMPTY_FULL")
        else [n for n in SUBSET if n in qs]
    )
    assert names
    failures = []
    for name in names:
        try:
            qs[name](spark, empty_sf).limit(5).collect()
        except Exception as ex:  # noqa: BLE001 - we report, not mask
            failures.append(f"{name}: {type(ex).__name__}: {ex}")
    assert not failures, "\n".join(failures)


@pytest.fixture(scope="module")
def null_sf(tmp_path_factory) -> str:
    """sf0.001 with NULLs injected into documents' nullable columns — the
    second degenerate-input class (the data generator never emits nulls, so
    null paths are otherwise untested; this sweep found a pandas
    astype(int64)-on-NaN crash and a bytes(None) crash in the image
    sniffer)."""
    import duckdb

    d = tmp_path_factory.mktemp("sf_nulls")
    con = duckdb.connect()
    for f in os.listdir(SRC_SF):
        if not f.endswith(".parquet"):
            continue
        t = f[: -len(".parquet")]
        src = os.path.join(SRC_SF, f)
        if t == "documents":
            con.execute(
                f"""COPY (SELECT doc_id,
                  CASE WHEN doc_id % 7 = 3 THEN NULL ELSE text END AS text,
                  CASE WHEN doc_id % 11 = 5 THEN NULL ELSE lang END AS lang,
                  CASE WHEN doc_id % 13 = 6 THEN NULL ELSE source END AS source,
                  CASE WHEN doc_id % 7 = 3 THEN NULL ELSE n_chars END AS n_chars
                FROM read_parquet('{src}')) TO '{d / f}' (FORMAT PARQUET)"""
            )
        else:
            con.execute(
                f"COPY (SELECT * FROM read_parquet('{src}')) TO '{d / f}' "
                "(FORMAT PARQUET)"
            )
    return str(d)


def test_every_query_survives_null_documents(spark, null_sf):
    import __spark_entry__ as entry

    qs = entry.queries()
    names = (
        sorted(qs)
        if os.environ.get("SPARK_GRAFT_EMPTY_FULL")
        else [n for n in SUBSET if n in qs]
        + ["pandas_scalar_utf8_bytes", "media_image_dims"]
    )
    failures = []
    for name in names:
        try:
            qs[name](spark, null_sf).limit(5).collect()
        except Exception as ex:  # noqa: BLE001
            failures.append(f"{name}: {type(ex).__name__}: {ex}")
    assert not failures, "\n".join(failures)


@pytest.fixture(scope="module")
def one_row_sf(tmp_path_factory) -> str:
    """Every table truncated to ONE row — the window/quantile/sample-stat
    edge (this sweep found the sample-stddev n−1 divisor throwing under
    ANSI for 1-row groups)."""
    import duckdb

    d = tmp_path_factory.mktemp("sf_one")
    con = duckdb.connect()
    for f in os.listdir(SRC_SF):
        if f.endswith(".parquet"):
            src = os.path.join(SRC_SF, f)
            con.execute(
                f"COPY (SELECT * FROM read_parquet('{src}') LIMIT 1) "
                f"TO '{d / f}' (FORMAT PARQUET)"
            )
    return str(d)


def test_every_query_survives_a_one_row_corpus(spark, one_row_sf):
    import __spark_entry__ as entry

    qs = entry.queries()
    names = (
        sorted(qs)
        if os.environ.get("SPARK_GRAFT_EMPTY_FULL")
        else [n for n in SUBSET if n in qs] + ["stats_aggregates_lineitem"]
    )
    failures = []
    for name in names:
        try:
            qs[name](spark, one_row_sf).limit(5).collect()
        except Exception as ex:  # noqa: BLE001
            failures.append(f"{name}: {type(ex).__name__}: {ex}")
    assert not failures, "\n".join(failures)
