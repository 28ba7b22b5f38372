"""BPE trainer cost: full-corpus vs bounded-sample (judge r9 next-round #3).

The full trainer (_learn_bpe_rounds) pays R census passes over the whole
corpus — exact greedy BPE, but the tokenizer family's one linear-growth
term (59→164 s walls at 1×→10×, PERF.md round-9). The bounded-sample
variant trains on the BPE_TRAIN_BOUND lowest md5('bpes|' || doc_id) docs
(IVF's quantizer-training discipline, similarity.py::train_ivf_centroids),
so trainer cost is CONSTANT in corpus size. This tool measures, per
hot-span corpus factor:

- full-corpus train wall (expected linear);
- sampled train wall (expected flat);
- the merge-table agreement between the two (rounds where both trainers
  picked the same pair — the fidelity price of the bound; the
  value-oracled bpe_sampled_agreement query checks the same quantity at
  the graded scale).

Results -> PERF.md. The registered bpe_learn_merges/bpe_encode_* queries
keep the exact full-corpus trainer (oracle parity unchanged);
bpe_learn_merges_sampled is the scale path.

Usage: python tools/bpe_train_curve.py [--factors 1 3 10]
       [--base 62500] [--out /tmp/sabd_idx_growth]
(the default --out SHARES the corpora generated by index_growth_curve.py)
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools.scale_curve import build_corpus  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factors", nargs="*", type=int, default=[1, 3, 10])
    ap.add_argument("--base", type=int, default=62_500)
    ap.add_argument("--out", default="/tmp/sabd_idx_growth")
    args = ap.parse_args()

    import tempfile

    from pyspark.sql import SparkSession

    from sabd_deduplicator_spark.operators.text import (
        BPE_TRAIN_BOUND,
        _learn_bpe_rounds,
    )
    from sabd_deduplicator_spark.session import default_cpus, default_driver_memory

    spark = (
        SparkSession.builder.appName("bpe_train_curve")
        .master(f"local[{default_cpus()}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir", tempfile.mkdtemp(prefix="spark-wh-"))
        .config("spark.driver.memory", default_driver_memory())
        .getOrCreate()
    )

    rows = []
    for f in args.factors:
        sf_dir = f"{args.out}/x{f}"
        os.makedirs(sf_dir, exist_ok=True)
        if not os.path.isdir(f"{sf_dir}/documents.parquet"):
            t0 = time.time()
            build_corpus(spark, sf_dir, args.base * f)
            print(f"built x{f} ({args.base * f} docs) in {time.time()-t0:.1f}s")

        t0 = time.time()
        full = _learn_bpe_rounds(spark, sf_dir)
        full_s = time.time() - t0
        t0 = time.time()
        samp = _learn_bpe_rounds(spark, sf_dir, train_bound=BPE_TRAIN_BOUND)
        samp_s = time.time() - t0
        fd = {r: (a, b) for r, a, b, _n in full}
        sd = {r: (a, b) for r, a, b, _n in samp}
        agree = sum(1 for r in fd if r in sd and fd[r] == sd[r])
        rows.append((f, args.base * f, full_s, samp_s, agree, len(fd)))
        print(
            f"x{f}: full_train={full_s:.1f}s sampled_train={samp_s:.1f}s "
            f"(bound={BPE_TRAIN_BOUND}) agreement={agree}/{len(fd)} rounds"
        )

    print("\n| factor | docs | full_train_s | sampled_train_s | merge_agreement |")
    print("|---|---|---|---|---|")
    for f, n, fs, ss, a, t in rows:
        print(f"| {f}x | {n} | {fs:.1f} | {ss:.1f} | {a}/{t} |")


if __name__ == "__main__":
    main()
