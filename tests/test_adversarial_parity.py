"""Adversarial-config determinism, one command (judge r4 next-round #8):
re-run oracle parity under a DIFFERENT execution geometry — 5 cores, 7
shuffle partitions (coprime with everything), AQE off — so any result that
depends on partition count, partition arrival order, or AQE coalescing
diverges from the DuckDB oracle and fails here. This was previously only a
recipe in .claude/skills/verify/SKILL.md.

Runs parity.py as a SUBPROCESS because the adversarial Spark conf must be
set at JVM/session creation, and this pytest process already holds the
normal-config session.
"""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent

# Partitioning-sensitive representatives of each query family: windowed
# first-occurrence, global encode/recovery, iterative connected components,
# banded joins (simhash + md5-minhash), ordered string reassembly, set ops
# with bag semantics, a streaming drain, and the blob parity row. Set
# SPARK_GRAFT_ADVERSARIAL_FULL=1 for all queries (~8 min).
SUBSET = [
    "dedup_hash_links",
    "dedup_encode_global",
    "roundtrip_recovery_global",
    "corpus_canonical_docs",
    "minhash_lsh_neardup",
    "simhash_neardup_pairs",
    "encoded_file_roundtrip",
    "media_image_dims",
    "set_ops_bag_semantics",
    "window_first_last_frames",
    "streaming_dedup_distinct",
    "approx_distinct_kmv",     # rank-to-kth-hash: exactly the order-sensitive shape
    "media_feature_extract",   # Arrow kernel vs SQL byte stats, float-bit-exact
    "streaming_neardup_dedup", # cross-batch band-bucket state + per-row HOF sketch
    "doc_top_distinctive_terms",  # rank window with full tie-break chain
    "ppl_bucket_stats",        # per-lang ntile over doubles: ordering-sensitive
    "split_leakage_report",    # span-hash self-join + cross-split aggregate
    "ann_jl_rerank_topk",      # sketch kth-value boundary + rerank tie-breaks
    "corpus_novelty_curve",    # min-packed first-occurrence + scalar-count deciles
    "source_span_overlap",     # distinct-level span-hash self-join pair matrix
    "vocab_coverage_curve",    # global rank + kth-value boundary over the vocab
    "neardup_method_agreement",  # composes all three near-dup pair pipelines
    "neardup_candidate_cost",  # bucket censuses over all three band structures
    "streaming_novelty_by_batch",  # complete-mode min-fold state over spans
    "ann_lsh_topk",            # r6: integer-lattice routing + probe order vs SQL
    "streaming_attribution_outer",  # r6: watermark-flush emission set
    "minhash_lsh_neardup_capped",  # r6: df-capped sketch, same banding shape
    "chunk_scan_cdc",          # r6: boundary-local window rule, variable chunks
    "dedup_cdc_vs_fixed",      # r6: distinct/semi-join census over both chunkers
    "cdc_encode_roundtrip",    # r6: encode∘decode identity over CDC chunks
    "text_bm25_topk",          # r6: shared-template IEEE score + kth boundary
    "token_freq_cms_audit",    # r6: min-over-counters vs exact counts
    "dedup_bloom_prefilter",   # r6: count-equals-K bit probe vs exact semi-join
    "doc_feature_hash_vector", # r6: 16 conditional signed sums per doc
    "streaming_cdc_ingest",    # r6: CDC in the ingest projection + min-fold state
    "dedup_bloom_sweep",       # r6: nested-prefix bit sets at three widths
    "bpe_first_merges",        # r6: char-pair census + kth boundary
    "cdc_chunk_length_histogram",  # r6: bucketed length geometry per chunker
    "source_minhash_agreement",  # r6: merged stratum sketches, est vs exact
    "doc_bigram_logprob",      # r6: smoothed bigram LM, double-sum rounding
    "source_unigram_kl",       # r6: KL over source/corpus distributions
    "repeated_substring_census",  # r6: stride-1 window census, NULL-fold scalars
    "doc_repeated_substring_flags",  # r6: hot-window semi-join + ratio gate
    "repeated_span_extract",   # r6: gaps-and-islands over repeated positions
    "embedding_knn_density",   # r6: integer-space top-k merge + global decile
    "sketch_order_locality",   # r6: two total-order row_numbers + pair Jaccard
    "minhash_band_tuning",     # r6: nested band configs + pooled-truth verify
    "bpe_learn_merges",        # r6: 4 sequential scalar merges, tie-chains
    "corpus_zipf_slope",       # r6: double regression aggregates + rank window
    "corpus_build_funnel_cut", # r7: ExactSubstr cut + funnel over the cut corpus
    "minhash_incremental_delta",  # r7: cross-stratum band probe + verify
    "minhash_index_probe",  # r8: probe of the PERSISTED bucketed band index
    "streaming_dedup_eviction_audit",  # r8: watermark-protocol simulation oracle
    "repeated_substring_census_fast",  # r8: Arrow Rabin-Karp per-shard pass
    "quality_gate_sweep",      # r7: 9-combo literal explode + integer gates
]


@pytest.mark.slow
def test_adversarial_config_parity():
    env = {
        **os.environ,
        "SPARK_GRAFT_CPUS": "5",
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": "7",
        "SPARK_GRAFT_AQE": "0",
    }
    names = [] if env.get("SPARK_GRAFT_ADVERSARIAL_FULL") else SUBSET
    proc = subprocess.run(
        [sys.executable, "tools/parity.py", "--sf", "/root/testdata/sf0.01", *names],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=1500,
    )
    tail = (proc.stdout + proc.stderr)[-3000:]
    assert proc.returncode == 0, f"adversarial parity failed:\n{tail}"
    assert "queries pass" in proc.stdout, tail
