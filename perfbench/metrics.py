"""Metric declarations (the source of BENCHMARK.json's lists) and the
per-layer metrics computed from a traced run's spans."""

from __future__ import annotations

import statistics

from perfbench.trace import SPARK_KEYS, Span, self_values

# (name, unit, better, bound): printed on every workload with --trace 0
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("op_p50_norm_s", "s", "lower", 0.25),
    ("stored_bytes_per_input_byte", "ratio", "lower", 0.1),
    ("ok_op_frac", "ratio", "higher", 0.01),
)

# (name, unit, better): printed on every workload with --trace 1; a layer the
# workload does not use reads 0
PER_LAYER = (
    ("session.start_s", "s", "lower"),
    ("sources.write_s", "s", "lower"),
    ("sources.write_bytes", "bytes", "lower"),
    ("sources.files_written", "count", "lower"),
    ("sources.read_s", "s", "lower"),
    ("chunker.busy_s", "s", "lower"),
    ("chunker.chunks_out", "count", "higher"),
    ("chunker.shuffle_write_bytes", "bytes", "lower"),
    ("dedup.busy_s", "s", "lower"),
    ("dedup.distinct_hashes", "count", "higher"),
    ("dedup.repeat_chunk_frac", "ratio", "higher"),
    ("dedup.shuffle_write_bytes", "bytes", "lower"),
    ("encode.busy_s", "s", "lower"),
    ("encode.literal_tokens", "count", "lower"),
    ("encode.pointer_tokens", "count", "higher"),
    ("encode.shuffle_write_bytes", "bytes", "lower"),
    ("encode.decode_busy_s", "s", "lower"),
    ("api.reassemble_busy_s", "s", "lower"),
    ("similarity.sketch_busy_s", "s", "lower"),
    ("similarity.shingles_out", "count", "higher"),
    ("minhash_index.build_busy_s", "s", "lower"),
    ("minhash_index.probe_s", "s", "lower"),
    ("minhash_index.append_s", "s", "lower"),
    ("minhash_index.staleness_s", "s", "lower"),
    ("minhash_index.jobs_per_batch", "count", "lower"),
    ("minhash_index.verified_pairs", "count", "higher"),
    ("minhash_index.novel_frac", "ratio", "lower"),
    ("minhash_index.oversized_buckets", "count", "lower"),
    ("minhash_index.slow_path_docs", "count", "lower"),
    ("minhash_index.band_files", "count", "lower"),
    ("text.tokenize_busy_s", "s", "lower"),
    ("text.tokens_out", "count", "higher"),
    ("llm_pipeline.cut_busy_s", "s", "lower"),
    ("llm_pipeline.chars_cut_frac", "ratio", "higher"),
    ("llm_pipeline.survivorship_busy_s", "s", "lower"),
    ("llm_pipeline.kept_doc_frac", "ratio", "higher"),
    ("spark.jobs", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.shuffle_write_bytes", "bytes", "lower"),
    ("spark.executor_cpu_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
    ("trace.overhead_frac", "ratio", "lower"),
)


def per_layer(spans: list[Span], band_files: int, overhead_frac: float) -> dict[str, float]:
    """Per-layer values from the spans of one traced run: per traced
    operation, except session.start_s (median per set-up),
    minhash_index.build_busy_s (per build) and band_files (end of run)."""
    selfv = self_values(spans)
    ops = [s for s in spans if s.name == "op"]
    n = max(1, len(ops))
    in_op = [s for s in spans if s.op is not None]

    def named(*names, everywhere=False):
        return [s for s in (spans if everywhere else in_op) if s.name in names]

    def busy(*names):
        return sum(selfv[s.sid][0] for s in named(*names)) / n

    def wall(name):
        return sum(s.dur for s in named(name)) / n

    def attr(name, key):
        return sum(s.attrs.get(key, 0) for s in named(name))

    def shuffle(name):
        return sum(selfv[s.sid][1].get("shuffle_write_bytes", 0) for s in named(name)) / n

    def ratio(a, b):
        return a / b if b else 0.0

    def spark_in(roots):
        """Inclusive Spark counters of ``roots`` minus their trace.count
        descendants."""
        tot = dict.fromkeys(SPARK_KEYS, 0)
        for root in roots:
            for k, v in root.spark.items():
                tot[k] += v
            stack = list(root.children)
            while stack:
                c = spans[stack.pop()]
                if c.name == "trace.count":
                    for k, v in c.spark.items():
                        tot[k] -= v
                else:
                    stack.extend(c.children)
        return tot

    starts = [s.dur for s in named("session.start", everywhere=True)]
    builds = named("minhash_index.build", everywhere=True)
    ingest = named("minhash_index.ingest")
    rt = spark_in(ops)
    dedup_rows, dedup_chunks = attr("dedup", "rows"), attr("dedup", "chunks")
    cut, kept = attr("llm_pipeline.cut", "chars_cut"), attr("llm_pipeline.cut", "chars_kept")
    return {
        "session.start_s": statistics.median(starts) if starts else 0.0,
        "sources.write_s": busy("sources.write"),
        "sources.write_bytes": attr("sources.write", "bytes") / n,
        "sources.files_written": attr("sources.write", "files") / n,
        "sources.read_s": busy("sources.read"),
        "chunker.busy_s": busy("chunker"),
        "chunker.chunks_out": attr("chunker", "rows") / n,
        "chunker.shuffle_write_bytes": shuffle("chunker"),
        "dedup.busy_s": busy("dedup"),
        "dedup.distinct_hashes": dedup_rows / n,
        "dedup.repeat_chunk_frac": ratio(dedup_chunks - dedup_rows, dedup_chunks),
        "dedup.shuffle_write_bytes": shuffle("dedup"),
        "encode.busy_s": busy("encode"),
        "encode.literal_tokens": attr("encode", "literals") / n,
        "encode.pointer_tokens": attr("encode", "pointers") / n,
        "encode.shuffle_write_bytes": shuffle("encode"),
        "encode.decode_busy_s": busy("encode.decode"),
        "api.reassemble_busy_s": busy("api.reassemble"),
        "similarity.sketch_busy_s": busy("similarity.shingles", "similarity.sketch"),
        "similarity.shingles_out": attr("similarity.shingles", "rows") / n,
        "minhash_index.build_busy_s": ratio(sum(selfv[s.sid][0] for s in builds), len(builds)),
        "minhash_index.probe_s": wall("minhash_index.probe"),
        "minhash_index.append_s": wall("minhash_index.append"),
        "minhash_index.staleness_s": wall("minhash_index.staleness"),
        "minhash_index.jobs_per_batch": spark_in(ingest)["jobs"] / n,
        "minhash_index.verified_pairs": attr("op", "pairs") / n,
        "minhash_index.novel_frac": ratio(attr("op", "novel"), attr("op", "delta")),
        "minhash_index.oversized_buckets": attr("op", "oversized") / n,
        "minhash_index.slow_path_docs": attr("op", "slow_path") / n,
        "minhash_index.band_files": band_files,
        "text.tokenize_busy_s": busy("text.tokenize"),
        "text.tokens_out": attr("text.tokenize", "tokens") / n,
        "llm_pipeline.cut_busy_s": busy("llm_pipeline.cut"),
        "llm_pipeline.chars_cut_frac": ratio(cut, cut + kept),
        "llm_pipeline.survivorship_busy_s": busy("llm_pipeline.survivorship"),
        "llm_pipeline.kept_doc_frac": ratio(attr("op", "docs_kept"), attr("op", "docs_in")),
        **{f"spark.{k}": v / n for k, v in rt.items()},
        "trace.overhead_frac": overhead_frac,
    }


def prediction_failures(meta: dict, workload: str, values: dict[str, float]) -> list[str]:
    """Metrics of the layers meta.json says the workload never calls that
    read non-zero."""
    families = tuple(f"{layer}." for layer in meta["workloads"][workload]["zero_layers"])
    return [k for k, v in values.items() if k.startswith(families) and v != 0]
