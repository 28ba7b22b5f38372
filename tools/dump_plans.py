"""Regenerate PLANS.md: formatted physical plans of headline queries with the
properties each is expected to exhibit (the same properties
tests/test_plans.py enforces). Usage: python tools/dump_plans.py
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from sabd_deduplicator_spark import registry
from sabd_deduplicator_spark.plans.inspect import formatted_plan
from sabd_deduplicator_spark.session import get_spark

HEADLINERS = {
    "dedup_hash_links": (
        "THE core operator. Expect: ONE Exchange (hashpartitioning by hash), "
        "partial_min/partial_count before it (map-side combine — the skew "
        "defense), HashAggregate not SortAggregate (packed-long ordinal), "
        "no Window."
    ),
    "filter_project_orders": (
        "Scan hygiene. Expect: PushedFilters carrying o_orderstatus/"
        "o_totalprice, ReadSchema limited to the 4 projected columns."
    ),
    "multi_join_revenue_by_nation": (
        "Dimension joins. Expect: BroadcastHashJoin ×3 (customer/nation/"
        "region), the orders fact never shuffles for the join; a single "
        "Exchange for the final aggregation."
    ),
    "asof_latest_order_per_event": (
        "Union-window as-of. Expect: Union + one Exchange + Window with "
        "last(ignorenulls); NO join operator anywhere."
    ),
    "range_join_close_prices": (
        "Bucketed band join. Expect: equi SortMergeJoin/ShuffledHashJoin on "
        "`bucket` with the ±0.5 band as residual condition; no "
        "BroadcastNestedLoopJoin."
    ),
    "roundtrip_recovery": (
        "Recovery. Expect: literals ∪ (pointers ⋈ literals) — one join on "
        "(file, line), no positional re-scan structure."
    ),
    "udtf_tokenize_docs": (
        "Python UDTF. Expect: ArrowEvalPythonUDTF (Arrow-batched eval), "
        "never BatchEvalPythonUDTF (row pickling)."
    ),
    "not_in_null_aware": (
        "NOT IN over nullable subquery. Expect: BroadcastHashJoin LeftAnti "
        "with the null-aware flag (trailing `true` in the executed-plan "
        "string) — plain left_anti would be wrong under tri-valued logic."
    ),
    "embedding_neardup_pairs": (
        "Tiled all-pairs BLAS. Expect: two collect_list aggregates (block "
        "build), a join forming the upper-triangular block grid, one "
        "MapInPandas (the matmul kernel) — NO driver-side collect, no "
        "per-pair expression evaluation."
    ),
    "merge_apply_changes": (
        "Full MERGE. Expect: WindowGroupLimit (per-partition top-1 "
        "changelog rows BEFORE the exchange), ONE SortMergeJoin FullOuter "
        "on the key (full outer cannot broadcast — both unmatched sides "
        "survive), no SortAggregate, no nested loop."
    ),
    "merge_apply_changes_bucketed": (
        "The MERGE cost model made physical (r9). Expect: the bucketed "
        "customer snapshot scans with ZERO exchanges above it (bucket "
        "layout satisfies the full outer's clustering); exactly one "
        "Exchange on the delta side (the explicit repartition into the "
        "bucket count) plus the changelog window's own shuffle; "
        "WindowGroupLimit before it; SortMergeJoin FullOuter."
    ),
    "ann_jl_rerank_topk": (
        "JL sketch prefilter + exact rerank. Expect: the sketch scores come "
        "from a localCheckpoint scan (memoized per corpus — the projection "
        "pass is not re-derived per consumer); the k-th-value prefilter "
        "joins a 1-row broadcast; the rerank joins only the candidate rows "
        "back to the corpus; the flat ±element_at projection sum appears "
        "in the memo's build, NOT here — no md5 and no higher-order "
        "function in this plan."
    ),
    "similarity_topk_cosine": (
        "Global top-k. Expect: the Window's input is a join against the "
        "broadcast k-th-value row (TakeOrderedAndProject feeds it), so the "
        "single-partition window only ranks survivors."
    ),
    "table_profile_orders": (
        "Column profiling. Expect: one groupBy-value branch per column "
        "(partial HashAggregate collapses duplicates map-side, the shuffle "
        "carries only distinct values) unioned into the report — NOT the "
        "multi-distinct Expand plan (5x duplicated rows in flight; measured "
        "3.5x slower) and NOT 5 unpruned scans (each branch's ReadSchema is "
        "exactly one column)."
    ),
    "text_winnow_fingerprint": (
        "The one sanctioned Python hot loop. Expect: narrow scan + codegen "
        "length filter, then a single ArrowEvalPython (vectorized "
        "Rabin-Karp kernel) — no BatchEvalPython, no shuffle."
    ),
    "span_dedup_corpus": (
        "Corpus span dedup. Expect: Generate (span explode) → Window "
        "partitioned by md5(span) (the first-occurrence rule) → one "
        "reassembly HashAggregate; no joins, no Python."
    ),
    "corpus_train_split": (
        "Deterministic split. Expect: pure projection (md5-bucket CASE) "
        "over the scan + ONE Exchange for the final per-split aggregate — "
        "bucketing must not shuffle or call Python."
    ),
    "minhash_lsh_neardup": (
        "Banded MinHash (r5: md5-permuted, fully oracle-checked). Expect: "
        "one HashAggregate family building the k-permutation signatures "
        "(map-side partial min over md5 strings), band explode via "
        "Generate, equi- (not nested-loop) candidate join on "
        "(band, x, y), and the exact-Jaccard verify joins touching only "
        "candidate rows; no Python anywhere."
    ),
    "source_span_overlap": (
        "Cross-source duplication matrix. Expect: the span explode feeds a "
        "distinct-level HashAggregate on (source, span-hash) BEFORE the "
        "self-join, so the pair join is an equi-join on the hash whose "
        "fanout is bounded by n_sources² per span (never corpus "
        "frequency); the per-source totals join as BroadcastHashJoins; no "
        "nested-loop join anywhere."
    ),
    "media_image_dims": (
        "Multimodal dims extraction. Expect: one narrow Project building "
        "the PNG/JPEG container bytes (concat of literals + unhex/lpad/hex "
        "— whole-stage codegen), then a single ArrowEvalPython/mapInPandas "
        "for the header walk; ZERO Exchanges — embarrassingly parallel "
        "linear scan."
    ),
}


def main() -> None:
    registry.load_all_queries()
    spark = get_spark("plans")
    spark.sparkContext.setLogLevel("ERROR")
    out = [
        "# PLANS — physical plans of headline queries\n",
        "Generated by `python tools/dump_plans.py` (sf0.001 inputs; plan\n"
        "structure is sf-invariant). tests/test_plans.py pins these\n"
        "properties; this file is the human-readable evidence.\n",
    ]
    for name, expectation in HEADLINERS.items():
        df = registry.QUERIES[name](spark, "/root/testdata/sf0.001")
        plan = formatted_plan(df)
        out.append(f"\n## {name}\n\n{expectation}\n\n```\n{plan}\n```\n")
    Path(__file__).resolve().parent.parent.joinpath("PLANS.md").write_text(
        "".join(out)
    )
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
