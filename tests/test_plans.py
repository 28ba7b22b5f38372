"""Plan-quality gates: correctness tests say WHAT comes out; these pin HOW —
the physical properties that decide whether a plan survives 100× scale."""

from __future__ import annotations

import pytest

from sabd_deduplicator_spark import registry
from sabd_deduplicator_spark.plans.inspect import (
    count_exchanges,
    formatted_plan,
    has_broadcast_join,
    has_row_python_udf,
    pushed_filters,
    read_schema_columns,
)

registry.load_all_queries()


def q(name, spark, sf_dir):
    return registry.QUERIES[name](spark, sf_dir)


def test_no_row_python_udfs_anywhere(spark, sf_dir):
    """Row-at-a-time Python UDFs (BatchEvalPython) are banned from every
    registered query; only Arrow-batched nodes are acceptable Python."""
    offenders = [
        name
        for name, fn in registry.QUERIES.items()
        if has_row_python_udf(fn(spark, sf_dir))
    ]
    assert offenders == []


def test_profile_avoids_expand(spark, sf_dir):
    """Multi-distinct profiling must stay on per-column groupBy branches —
    an Expand node means Spark re-planned it as the 5x-duplicated-rows
    multi-distinct aggregate (measured 3.5x slower at sf0.1)."""
    assert "Expand" not in formatted_plan(q("table_profile_orders", spark, sf_dir))


def test_winnow_is_single_arrow_eval(spark, sf_dir):
    """The winnow kernel must reach Spark as ONE ArrowEvalPython over the
    filtered scan (vectorized Rabin-Karp), never BatchEvalPython."""
    import re

    plan = formatted_plan(q("text_winnow_fingerprint", spark, sf_dir))
    # formatted plans name each node twice (tree line + detail header)
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1
    assert "BatchEvalPython" not in plan
    assert "Exchange" not in plan  # narrow: no shuffle anywhere


def test_multiprobe_lsh_is_partitioning_invariant(spark, sf_dir):
    """ann_lsh_topk's result must not depend on how the input happens to be
    partitioned (probe routing is per-row, bucket kernels sort candidates,
    and the packed-ordinal max-merge is order-free) — the rows-only driver
    check can't see this, so pin it here."""
    from sabd_deduplicator_spark.catalog import table
    from sabd_deduplicator_spark.operators.similarity import (
        LSH_PROBES,
        lsh_planes_for,
        lsh_top1,
    )

    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n_planes = lsh_planes_for(e.count())
    a = {tuple(r) for r in lsh_top1(e, n_planes, LSH_PROBES).collect()}
    b = {
        tuple(r)
        for r in lsh_top1(e.repartition(7, "vec_id"), n_planes, LSH_PROBES).collect()
    }
    c = {tuple(r) for r in lsh_top1(e.coalesce(1), n_planes, LSH_PROBES).collect()}
    assert a == b == c
    assert len(a) > 0


def test_dimension_joins_broadcast(spark, sf_dir):
    """customer/nation/region joins must be broadcast: the orders fact table
    never shuffles for the join."""
    assert has_broadcast_join(q("multi_join_revenue_by_nation", spark, sf_dir))
    assert has_broadcast_join(q("catalog_join", spark, sf_dir))


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    pf = pushed_filters(q("filter_project_orders", spark, sf_dir))
    assert "o_orderstatus" in pf and "o_totalprice" in pf


def test_column_pruning(spark, sf_dir):
    """A 4-column projection must not read the whole orders table."""
    cols = set(read_schema_columns(q("filter_project_orders", spark, sf_dir)))
    assert "o_orderpriority" in cols or len(cols) <= 5
    assert "o_comment" not in cols  # not even present, but guard regardless
    cols_docs = set(read_schema_columns(q("dedup_first_occurrence", spark, sf_dir)))
    assert cols_docs <= {"doc_id", "text"}


def test_hash_links_single_shuffle(spark, sf_dir):
    """THE core dedup aggregation: exactly one exchange (by hash) — partial
    aggregation must absorb duplicates map-side, no window sort."""
    df = q("dedup_hash_links", spark, sf_dir)
    assert count_exchanges(df) <= 1
    assert "Window" not in formatted_plan(df)


def test_asof_is_not_quadratic(spark, sf_dir):
    """The as-of must be the union-window plan (one join-free window pass),
    not a time-range join that multiplies rows per key."""
    plan = formatted_plan(q("asof_latest_order_per_event", spark, sf_dir))
    assert "Join" not in plan  # union + window only
    assert "Window" in plan


def test_band_join_is_equi_not_nested_loop(spark, sf_dir):
    """Bucketed band join must hash-join on the bucket key; a
    BroadcastNestedLoopJoin here would be the quadratic plan."""
    plan = formatted_plan(q("range_join_close_prices", spark, sf_dir))
    assert "NestedLoop" not in plan


def test_minhash_stays_jvm_side_equi_joins(spark, sf_dir):
    """The md5-permuted MinHash sketch (r5) must keep its r4 plan shape:
    signature build as a hash aggregate, band candidate join as an
    equi-join, and zero Python anywhere — the oracle-izability rewrite must
    not cost the JVM-only execution."""
    plan = formatted_plan(q("minhash_lsh_neardup", spark, sf_dir))
    assert "NestedLoop" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan
    # conv-to-long signatures keep the k-way min a HashAggregate
    assert "SortAggregate" not in plan


def test_context_chunker_is_shuffle_free(spark, sf_dir):
    """The sliding context-window chunker must stay an embarrassingly
    parallel map: per-row split/sequence/explode/slice, ZERO Exchanges."""
    df = q("doc_context_chunks", spark, sf_dir)
    assert count_exchanges(df) == 0
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_minhash_accuracy_report_stays_candidate_bounded(spark, sf_dir):
    """The sketch-error report must pay the same O(candidates) budget as
    minhash_lsh_neardup: equi-joins only (band join + candidate-keyed
    signature/shingle joins), no nested-loop, no Python, hash aggregates."""
    plan = formatted_plan(q("minhash_estimate_accuracy", spark, sf_dir))
    assert "NestedLoop" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "SortAggregate" not in plan


def test_streaming_neardup_batch_side_is_anti_join(spark, sf_dir):
    """streaming_neardup_dedup's keep/drop decision (the batch side over the
    drained rep table) must be bucket equi-join + LeftAnti — never a
    pairwise candidate product."""
    df = q("streaming_neardup_dedup", spark, sf_dir)
    plan = formatted_plan(df)
    assert "LeftAnti" in plan
    assert "NestedLoop" not in plan


def test_media_image_dims_is_narrow_linear_scan(spark, sf_dir):
    """Container build (codegen concat/unhex) + one Arrow-batched header
    walk, ZERO Exchanges: dims extraction must stay embarrassingly
    parallel."""
    df = q("media_image_dims", spark, sf_dir)
    assert count_exchanges(df) == 0
    assert "BatchEvalPython" not in formatted_plan(df)


def test_media_audio_and_video_meta_are_narrow_linear_scans(spark, sf_dir):
    """The audio/video twins must keep the image path's shape: codegen
    container build + one Arrow header walk, ZERO Exchanges."""
    for name in ("media_audio_meta", "media_video_meta"):
        df = q(name, spark, sf_dir)
        assert count_exchanges(df) == 0, name
        assert "BatchEvalPython" not in formatted_plan(df), name


def test_spread_if_narrow_is_noop_on_wide_input(spark, sf_dir):
    """The row-starved-scan fan-out (r5) must spread a single-split scan to
    cluster width AND stay a strict no-op (same object, zero added
    Exchange) on an input that is already wide — the property that makes it
    safe to leave in 100-TB paths."""
    from sabd_deduplicator_spark.catalog import spread_if_narrow, table

    width = spark.sparkContext.defaultParallelism
    narrow = table(spark, sf_dir, "documents")
    assert narrow.rdd.getNumPartitions() < max(2, width // 2)  # fixture premise
    spreaded = spread_if_narrow(narrow)
    assert spreaded.rdd.getNumPartitions() == width
    assert spreaded.count() == narrow.count()

    wide = narrow.repartition(width)
    assert spread_if_narrow(wide) is wide


@pytest.mark.parametrize(
    "name",
    [
        "pivot_events_by_type",
        "dedup_hash_links",
        "multi_join_revenue_by_nation",
        "dedup_refcount",
    ],
)
def test_aggregates_stay_hash_based(name, spark, sf_dir):
    """Decimal sums and packed ordinals must keep the headline aggregations
    on HashAggregate (SortAggregate = per-partition sort, slower and no
    map-side combine for the skewed-hash defense)."""
    plan = formatted_plan(q(name, spark, sf_dir))
    assert "SortAggregate" not in plan
    assert "HashAggregate" in plan


@pytest.mark.parametrize(
    "name,max_exchanges",
    [
        ("dedup_refcount", 1),
        ("multi_join_revenue_by_nation", 1),
        ("chunk_scan_fixed", 0),
        # CDC boundaries are per-row window hashes — zero shuffles of its
        # own; the 1 budget is catalog.spread_if_narrow's adaptive
        # round-robin Exchange (the test corpus is ONE parquet row group,
        # which would pin the whole md5 sweep to a single core; on a
        # multi-split corpus the spread is a no-op and the plan is 0)
        ("chunk_scan_cdc", 1),
        ("doc_feature_hash_vector", 1),  # explode + ONE hash aggregate
        ("text_fingerprint", 0),
        ("vector_norms", 0),
    ],
)
def test_shuffle_budget(name, max_exchanges, spark, sf_dir):
    """Shuffle-count regression gate for headline queries."""
    assert count_exchanges(q(name, spark, sf_dir)) <= max_exchanges


def test_udtf_is_arrow_batched(spark, sf_dir):
    """Python UDTF must eval via Arrow batches, never row pickling."""
    plan = formatted_plan(q("udtf_tokenize_docs", spark, sf_dir))
    assert "ArrowEvalPythonUDTF" in plan
    assert "BatchEvalPython" not in plan


def test_not_in_plans_null_aware_anti_join(spark, sf_dir):
    """NOT IN over a nullable subquery column requires the null-aware anti
    join (tri-valued logic), not a plain left_anti hash join. The flag is the
    trailing boolean of BroadcastHashJoinExec's string form:
    `BroadcastHashJoin [...], LeftAnti, BuildRight, true`."""
    df = q("not_in_null_aware", spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti, BuildRight, true" in plan


def test_no_driver_side_collect_in_package():
    """No registered operator may funnel a data-sized table through the
    driver: `.toPandas(` and `.collect(` are banned from the package source
    (scalar `.first()` lookups are the allowed exception — one row). Lint on
    source, not plans, because a driver collect is invisible to explain()."""
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "sabd_deduplicator_spark"
    offenders = [
        str(p)
        for p in pkg.rglob("*.py")
        if ".toPandas(" in p.read_text() or ".collect(" in p.read_text()
    ]
    assert offenders == []


def test_similarity_topk_has_no_global_window_over_corpus(spark, sf_dir):
    """Global top-k must prefilter to the k-th value before any
    single-partition window: the Window input is the survivor set, reached
    only after a join against the broadcast k-th-value row."""
    plan = formatted_plan(q("similarity_topk_cosine", spark, sf_dir))
    assert "Window" in plan
    w_pos = plan.index("Window")
    assert "BroadcastHashJoin" in plan[w_pos:] or "BroadcastNestedLoopJoin" in plan[
        w_pos:
    ], "window not fed by the kth-value prefilter join"


def test_llm_pipeline_shapes(spark, sf_dir):
    """Corpus-build ops stay JVM-side and linear: pure-projection bucketing
    (split/mixture: zero or one exchange for the final agg), span dedup is
    window-over-hash + one reassembly group-by (no joins), and nothing in the
    module evaluates Python."""
    for name in ("corpus_train_split", "corpus_source_mixture"):
        df = q(name, spark, sf_dir)
        assert count_exchanges(df) <= 1, name
        assert not has_row_python_udf(df), name
    # span dedup must be the skew-safe agg+join shape: min(packed) in a
    # HashAggregate (map-side combine absorbs hot spans) + an equi keeper
    # join — NEVER a row_number window over the span hash (unsplittable
    # hot-key funnel)
    span = formatted_plan(q("span_dedup_corpus", spark, sf_dir))
    assert "Window" not in span
    assert "HashAggregate" in span
    assert "partial_min" in span  # map-side combine present
    gopher = q("gopher_repetition_filters", spark, sf_dir)
    assert not has_row_python_udf(gopher)
    assert "SortAggregate" not in formatted_plan(gopher)
    # packing's prefix sum must be the two-phase scan: the data-sized window
    # partitions by (lang, block), never by lang alone (single-task stream)
    pack = q("sequence_packing_bins", spark, sf_dir)
    plan = pack._jdf.queryExecution().executedPlan().toString()
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    data_windows = [s for s in specs if "doc_id" in s]
    assert data_windows and all("block" in s for s in data_windows), specs


def test_source_overlap_pair_join_is_distinct_level(spark, sf_dir):
    """The cross-source pair join must consume the DISTINCT (source,
    span-hash) aggregate, not raw span occurrences — a hot boilerplate
    span's fanout is then bounded by n_sources², never corpus frequency.
    Pinned as: no nested-loop join, and the self-join sits above
    HashAggregates (the distinct) in the executed plan."""
    plan = formatted_plan(q("source_span_overlap", spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan
    # the per-source totals must ride in as broadcasts, not shuffles
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_vocab_coverage_window_sees_only_survivors(spark, sf_dir):
    """The coverage curve's global rank window must be fed by the k-th-value
    prefilter join (same discipline as top_tokens_corpus) — never a
    single-partition sort over the full vocabulary."""
    plan = formatted_plan(q("vocab_coverage_curve", spark, sf_dir))
    assert "Window" in plan
    assert "TakeOrderedAndProject" in plan  # the distributed k-th-value probe


def test_merge_plan_windowgrouplimit_and_join_shape(spark, sf_dir):
    """merge_apply_changes: the changelog top-1 must ride WindowGroupLimit
    (per-partition top-k BEFORE the exchange — a max-of-struct aggregate
    would fall onto SortAggregate, checked during development), and the
    MERGE itself must be exactly one full-outer equi-join — no nested-loop,
    no extra exchanges beyond the window + join pair."""
    plan = (
        q("merge_apply_changes", spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("WindowGroupLimit") >= 1
    assert "SortMergeJoin FullOuter" in plan or (
        "SortMergeJoin" in plan and "FullOuter" in plan
    )
    assert "SortAggregate" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
