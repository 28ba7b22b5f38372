"""Isolated 5-rep re-pin of bench_diff wobble suspects — same noop-sink
methodology as bench.py, JVM + Python-worker pools pre-warmed, per-query
median + spread printed. The arbiter for every flag a full-run diff
raises: round 5 re-measured ~25 flags this way and every one landed back
inside its committed band (in-run GC debt / canary over-correction, not
regression).

Usage:
  python tools/repin_wobble.py [names...]          # explicit suspects
  python tools/repin_wobble.py --diff OLD.json NEW.json [threshold]

--diff mode mechanizes the adjudication PERF.md previously assembled by
hand (judge r7 next-round #2): it runs bench_diff over the two
BENCH_DETAIL files, isolates every flagged query (regressed AND improved —
an 'improvement' measured under disturbance is equally untrustworthy),
re-measures each with a clean-canary-gated 5-rep median, and prints the
markdown verdict table: committed median, full-run median, isolated
median, isolated/committed ratio, verdict (wobble vs real). Exits 1 iff
any flag is CONFIRMED by its isolated measurement.
"""

from __future__ import annotations

import json
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from sabd_deduplicator_spark import registry
from sabd_deduplicator_spark.session import get_spark

SUSPECTS = [
    "text_simhash32",
    "udtf_tokenize_docs",
    "text_winnow_fingerprint",
    "span_dedup_corpus",          # flagged 3× in r5 full runs, always wobble
    "neardup_split_leakage",      # in-run spikes, isolated == committed
    "stats_aggregates_lineitem",
    "semantic_dedup_corpus",      # cold pair-memo rep lands in full runs
]
REPS = 5
SF_DIR = "/root/testdata/sf0.1"


def _warm_session():
    spark = get_spark("repin")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    def _ident(batches):
        import numpy as np

        a = np.full((2048, 64), 0.5)
        a @ a.T  # noqa: B018 — warm per-worker BLAS buffers (bench.py parity)
        yield from batches

    (
        spark.range(32 * 4)
        .repartition(32)
        .mapInPandas(_ident, "id long")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return spark


def _isolated_median(spark, name: str) -> tuple[float, list[float]]:
    runs = []
    for _ in range(REPS):
        spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        registry.QUERIES[name](spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()
        runs.append(round(time.perf_counter() - t0, 3))
    return statistics.median(runs), runs


def _diff_mode(old_path: str, new_path: str, threshold: float) -> int:
    from bench import CANARY_NOMINAL, DISTURBED_X, _host_canary
    from tools.bench_diff import diff

    old = json.load(open(old_path))
    new = json.load(open(new_path))
    d = diff(old, new, threshold)
    flags = {**d["regressed"], **d["improved"]}
    if not flags:
        print("no flags to adjudicate (diff clean)")
        return 0

    registry.load_all_queries()
    spark = _warm_session()
    canary = _host_canary(spark)
    print(f"repin host canary: {canary}", file=sys.stderr)
    if canary["numpy_matmul_sec"] > DISTURBED_X * CANARY_NOMINAL["numpy_matmul_sec"]:
        print(
            "ERROR: THIS host is disturbed too (matmul "
            f"{canary['numpy_matmul_sec']} > {DISTURBED_X}x nominal) — an "
            "isolated re-measure under disturbance adjudicates nothing. "
            "Re-run when the canary is clean.",
            file=sys.stderr,
        )
        return 2

    rows, confirmed = [], []
    for name, info in sorted(flags.items()):
        med, runs = _isolated_median(spark, name)
        ratio = med / info["old"] if info["old"] > 0 else float("inf")
        # the same bar the full-run diff uses, now on a clean isolated
        # median vs the committed one — no host normalization needed
        real = ratio > threshold and med - info["old"] > 0.2
        if real:
            confirmed.append(name)
        rows.append(
            (name, info["old"], info["new"], round(med, 3), round(ratio, 2),
             "REGRESSION" if real
             else ("improved" if ratio < 1 / threshold else "wobble"),
             runs)
        )

    print("\n| query | committed | full-run | isolated | iso/committed | verdict |")
    print("|---|---|---|---|---|---|")
    for name, o, n, m, r, v, _runs in rows:
        print(f"| {name} | {o} | {n} | {m} | {r}× | {v} |")
    print(f"\ncanary: {canary}")
    for name, *_rest, runs in rows:
        print(f"  {name} runs={runs}", file=sys.stderr)
    if confirmed:
        print(f"\nCONFIRMED regressions: {', '.join(confirmed)}")
        return 1
    print("\nall flags adjudicated as wobble/improvement — no real regression")
    return 0


def main() -> None:
    if sys.argv[1:2] == ["--diff"]:
        if len(sys.argv) < 4:
            print(__doc__)
            sys.exit(2)
        threshold = float(sys.argv[4]) if len(sys.argv) > 4 else 1.3
        sys.exit(_diff_mode(sys.argv[2], sys.argv[3], threshold))

    names = sys.argv[1:] or SUSPECTS
    registry.load_all_queries()
    spark = _warm_session()
    for name in names:
        med, runs = _isolated_median(spark, name)
        print(
            f"{name}: median={med:.3f} "
            f"min={min(runs):.3f} max={max(runs):.3f} runs={runs}"
        )


if __name__ == "__main__":
    main()
