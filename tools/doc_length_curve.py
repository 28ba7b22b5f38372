"""Chunk/window kernel cost against the length of ONE document.

Times the three per-document kernels on a single text of growing length:
``chunker.chunk_fixed`` (16-char chunks), ``llm_pipeline._fp_positions_df``
(stride-1 32-char windows, xxhash64 keys) and ``cdc.chunk_cdc`` (content-
defined chunks). A kernel that is linear in the document's length costs
about 4× per 4× length; one that re-walks the text from its first byte for
every chunk or window costs about 16×. One task does all the work, so the
curve reads the kernel, not the parallelism.

Each point is the median of ``--reps`` timed runs after one untimed warm-up
(code generation); every run evaluates every piece (count plus a max over
the chunk or key column), in a ``session.get_spark`` session sized by
``session.default_cpus()`` / ``default_driver_memory()``. ``net``
subtracts the median of a job that only reads the same cached document, so
at short lengths, where one Spark job's fixed cost dominates, the growth
factors still read the kernel.

Usage: python tools/doc_length_curve.py [--lengths 4000 16000 64000] [--reps 3]
"""

from __future__ import annotations

import argparse
import random
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


_WORDS = [
    "dedup", "chunk", "index", "räksmörgås", "naïve", "東京", "😀", "🇩🇪",
    "e\u0301", "line\r\nbreak", "tab\there", "pointer", "literal", "window",
]


def make_text(n_chars: int, seed: int = 1) -> str:
    """Mixed-script words (supplementary-plane characters, combining marks,
    line breaks) plus verbatim repeats of earlier stretches, so the text has
    repeated chunks and repeated spans; exactly n_chars characters."""
    rng = random.Random(seed)
    parts: list[str] = []
    size = 0
    while size < n_chars:
        if parts and rng.random() < 0.05:
            start = rng.randrange(len(parts))
            piece = "".join(parts[start:start + rng.randrange(8, 40)])
        else:
            piece = rng.choice(_WORDS) + " "
        parts.append(piece)
        size += len(piece)
    return "".join(parts)[:n_chars]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--lengths", nargs="*", type=int, default=[4000, 16000, 64000])
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from sabd_deduplicator_spark.operators.cdc import chunk_cdc
    from sabd_deduplicator_spark.operators.chunker import chunk_fixed
    from sabd_deduplicator_spark.operators.llm_pipeline import _fp_positions_df
    from sabd_deduplicator_spark.session import get_spark

    spark = get_spark("doc_length_curve")
    spark.sparkContext.setLogLevel("ERROR")
    kernels = {
        "read": lambda d: d.agg(F.count("*"), F.max(F.length("text"))),
        "chunk_fixed": lambda d: chunk_fixed(d).agg(F.count("*"), F.max("chunk")),
        "_fp_positions_df": lambda d: _fp_positions_df(d).agg(F.count("*"), F.max("h")),
        "chunk_cdc": lambda d: chunk_cdc(d).agg(F.count("*"), F.max("chunk")),
    }

    times: dict[str, list[float]] = {k: [] for k in kernels}
    for n in args.lengths:
        docs = spark.createDataFrame(
            [(1, make_text(n))], "doc_id long, text string"
        ).cache()
        docs.count()
        for name, run in kernels.items():
            run(docs).collect()  # warm-up: code generation
            walls = []
            for _ in range(args.reps):
                t0 = time.perf_counter()
                run(docs).collect()
                walls.append(time.perf_counter() - t0)
            times[name].append(statistics.median(walls))
        docs.unpersist()

    names = [k for k in kernels if k != "read"]
    net = {k: [max(t - r, 1e-3) for t, r in zip(times[k], times["read"])] for k in names}
    print("| chars | read s | " + " | ".join(f"{k} s (net)" for k in names) + " |")
    print("|---" * (len(names) + 2) + "|")
    for j, n in enumerate(args.lengths):
        cells = [f"{times['read'][j]:.3f}"]
        for k in names:
            grow = f", ×{net[k][j] / net[k][j - 1]:.1f}" if j else ""
            cells.append(f"{times[k][j]:.3f} ({net[k][j]:.3f}{grow})")
        print(f"| {n} | " + " | ".join(cells) + " |")
    spark.stop()


if __name__ == "__main__":
    main()
