"""Scale-curve measurement for the dedup spine (judge r5 next-round #6).

Builds duplicated-heavy corpora at 1x/3x/10x (62.5k/187.5k/625k docs, 8
eight-token spans each → 0.5M/1.5M/5M spans) with adversarial structure the
fixed testdata lacks:

- ONE hot span carries ~20% of all span mass (the skew a crawl's boilerplate
  header produces — the case partial aggregation must absorb);
- ~30% of documents are exact copies, ~20 copies per source text, with the
  SOURCE POOL scaling with the corpus (a bigger crawl hits more distinct
  boilerplate pages, not deeper copies of the same thousand) — this keeps
  the near-dup PAIR OUTPUT linear in corpus size, so the curve measures the
  operator, not the output. The first run used a FIXED 1k pool: group depth
  then grows with the corpus and the pair list is quadratic in depth BY
  SEMANTICS (every pair of 56 copies is a real near-dup pair) — and
  measured cost tracked the pair count exactly (171k→1.54M pairs = 9×,
  40s→354s = 8.9×), i.e. linear per candidate, which is the docstring's
  actual claim. Both findings are recorded in PERF.md.
- ~30% of spans come from a pool that also scales with the corpus (cross-doc
  span repetition for the span-dedup path); the rest are unique.

Then measures WALL TIME and SHUFFLE WRITE BYTES (delta over the UI REST
stage metrics) for each dedup-spine query at each factor, materializing
results through the noop sink. The claim under test is the docstrings'
"linear shuffles": bytes and time should grow ~linearly with the factor,
hot key notwithstanding. Results are recorded in PERF.md.

Usage: python tools/scale_curve.py [--factors 1 3 10] [--base 62500]
       [--out /tmp/sabd_scale_curve]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

QUERIES = (
    "dedup_hash_links",
    "span_dedup_corpus",
    "minhash_lsh_neardup",
    "streaming_neardup_dedup",
)

# queries that read embeddings.parquet instead of documents.parquet — the
# corpus builder plants 16 separated Gaussian clusters (the regime real
# embedding corpora live in; same geometry as tests/test_ann_clustered.py)
ANN_QUERIES = ("ann_lsh_topk", "ann_jl_rerank_topk", "knn_exact_top1")
ANN_BASE = 6_250  # vectors at factor 1 (10x = 62.5k; exact grid = 3.9e9 pairs)
ANN_K, ANN_DIM, ANN_SIGMA = 16, 64, 0.05

HOT_SPAN = " ".join(f"hot{j}" for j in range(8))
VOCAB = 50021  # prime-ish vocabulary size; spans distinct via combination


def build_corpus(spark, out_dir: str, n_docs: int) -> None:
    from pyspark.sql import functions as F

    d = spark.range(n_docs).select(F.col("id").alias("doc_id"))
    # ~30% exact-dup docs, ~20 copies per source: pool scales with corpus
    # so dup-group depth (and hence pair output per group) stays constant
    doc_pool = max(1000, (n_docs * 3) // 200)
    base = F.when(
        F.pmod(F.xxhash64("doc_id", F.lit(999)), 10) < 3,
        F.pmod(F.xxhash64("doc_id", F.lit(998)), F.lit(doc_pool)),
    ).otherwise(F.col("doc_id"))
    d = d.withColumn("base_id", base)

    span_pool = max(1000, n_docs // 50)  # scales too — see docstring

    def span(k: int):
        h = F.pmod(F.xxhash64("base_id", F.lit(k)), F.lit(2**31))
        bucket = F.pmod(h, 10)
        pool_id = F.pmod(h, F.lit(span_pool))
        pool_toks = F.concat_ws(
            " ",
            *[
                F.concat(F.lit("t"), (pool_id * 8 + F.lit(j)) % VOCAB)
                for j in range(8)
            ],
        )
        uniq_toks = F.concat_ws(
            " ",
            *[
                F.concat(
                    F.lit("t"), F.pmod(h + F.lit(j * 2654435761), F.lit(VOCAB))
                )
                for j in range(8)
            ],
        )
        return (
            F.when(bucket < 2, F.lit(HOT_SPAN))       # ~20% of span mass
            .when(bucket < 5, pool_toks)              # ~30% pooled repeats
            .otherwise(uniq_toks)                     # ~50% unique
        )

    text = F.concat_ws(" ", *[span(k) for k in range(8)])
    docs = d.select(
        "doc_id",
        text.alias("text"),
        F.lit("en").alias("lang"),
        F.concat(F.lit("src"), F.pmod("doc_id", F.lit(4))).alias("source"),
    ).withColumn("n_chars", F.length("text").cast("long"))
    docs.repartition(32).write.mode("overwrite").parquet(
        f"{out_dir}/documents.parquet"
    )


def build_embeddings(out_dir: str, n_vecs: int) -> None:
    """Planted-cluster embedding corpus (ANN_K unit centroids, σ=ANN_SIGMA
    — intra-cluster cos ≈ 0.86, inter ≈ N(0, 1/DIM)): deterministic, written
    in 32 row groups so the scans parallelize. numpy generation is fine at
    these sizes (625k × 64 float32 = 160 MB); the MEASURED operators are
    the Spark queries, not the generator."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(7)
    cents = rng.normal(size=(ANN_K, ANN_DIM))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    labels = np.arange(n_vecs) % ANN_K
    pts = (
        cents[labels] + ANN_SIGMA * rng.normal(size=(n_vecs, ANN_DIM))
    ).astype(np.float32)
    tbl = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), type=pa.int64()),
            "embedding": pa.array(pts.tolist(), type=pa.list_(pa.float32())),
            # testdata schema parity: some queries project `label`; the
            # planted cluster id is the truthful value here
            "label": pa.array(labels.astype(np.int32), type=pa.int32()),
        }
    )
    pq.write_table(
        tbl,
        f"{out_dir}/embeddings.parquet",
        row_group_size=max(1, n_vecs // 32),
    )


def shuffle_write_bytes(spark) -> int:
    """Sum of shuffle write bytes over all stages so far, via the UI REST
    API (requires spark.ui.enabled=true in this session)."""
    ui = spark.sparkContext.uiWebUrl
    with urllib.request.urlopen(f"{ui}/api/v1/applications") as r:
        app_id = json.load(r)[0]["id"]
    total = 0
    with urllib.request.urlopen(
        f"{ui}/api/v1/applications/{app_id}/stages"
    ) as r:
        for st in json.load(r):
            total += st.get("shuffleWriteBytes", 0)
    return total


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factors", nargs="*", type=int, default=[1, 3, 10])
    ap.add_argument("--base", type=int, default=62_500)
    ap.add_argument("--out", default="/tmp/sabd_scale_curve")
    ap.add_argument("--queries", nargs="*", default=list(QUERIES))
    args = ap.parse_args()

    import tempfile

    from pyspark.sql import SparkSession

    from sabd_deduplicator_spark import registry
    from sabd_deduplicator_spark.session import default_cpus, default_driver_memory

    spark = (
        SparkSession.builder.appName("scale_curve")
        .master(f"local[{default_cpus()}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir", tempfile.mkdtemp(prefix="spark-wh-"))
        .config("spark.ui.enabled", "true")  # REST stage metrics
        .config("spark.driver.memory", default_driver_memory())
        .getOrCreate()
    )
    registry.load_all_queries()

    need_docs = any(q not in ANN_QUERIES for q in args.queries)
    need_embs = any(q in ANN_QUERIES for q in args.queries)
    rows = []
    for f in args.factors:
        sf_dir = f"{args.out}/x{f}"
        os.makedirs(sf_dir, exist_ok=True)
        if need_docs and not os.path.isdir(f"{sf_dir}/documents.parquet"):
            t0 = time.time()
            build_corpus(spark, sf_dir, args.base * f)
            print(f"built x{f} ({args.base * f} docs) in {time.time()-t0:.1f}s")
        if need_embs and not os.path.exists(f"{sf_dir}/embeddings.parquet"):
            t0 = time.time()
            build_embeddings(sf_dir, ANN_BASE * f)
            print(
                f"built x{f} ({ANN_BASE * f} vectors) in {time.time()-t0:.1f}s"
            )
        for name in args.queries:
            t0 = time.time()
            sb0 = shuffle_write_bytes(spark)
            df = registry.QUERIES[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            wall = time.time() - t0
            sb = shuffle_write_bytes(spark) - sb0
            rows.append((name, f, round(wall, 1), sb))
            print(f"x{f} {name}: {wall:.1f}s shuffle_write={sb/1e6:.1f}MB")

    print("\n| query | factor | wall_s | shuffle_write_MB |")
    print("|---|---|---|---|")
    for name, f, wall, sb in rows:
        print(f"| {name} | {f}x | {wall} | {sb/1e6:.1f} |")


if __name__ == "__main__":
    main()
