"""Build a LARGER staged sf-dir for core-scaling measurements (judge r11
next-round #2): at sf0.1 the bench's timed region is dominated by fixed
per-query costs (driver planning, AQE stage scheduling, micro-batch
lifecycle) — five of twelve top queries measured FASTER on 8 cores than 32,
so the 8-vs-32 ratio says nothing about parallel scaling. This tool stages a
deterministic corpus big enough that per-row compute dominates, with the
SAME table layout the queries read (documents + events), so the bench's
subset mode (SPARK_GRAFT_BENCH_QUERIES) can measure an honest core-scaling
curve over it:

    python tools/build_scaled_dir.py --out /tmp/sabd_sf1          # ~10x sf0.1
    SPARK_GRAFT_SF_DIR=/tmp/sabd_sf1 SPARK_GRAFT_CPUS=32 \
      SPARK_GRAFT_BENCH_QUERIES=a,b,c python bench.py
    SPARK_GRAFT_SF_DIR=/tmp/sabd_sf1 SPARK_GRAFT_CPUS=8 ...        # ratio

Documents reuse tools/scale_curve.py's generator (hot-span skew + scaling
dup pools — pair output stays linear in corpus size, so the curve measures
the operator, not a quadratic output). Events mirror the testdata
generator's shape (5 uniform event types, ~26 s cadence with jitter,
monotone-ish timestamps) with users and time span BOTH scaled by the
factor, keeping per-user-per-hour event density — and hence stream-join
match multiplicity per purchase — at the sf0.1 level.

This is measurement staging for a one-off PERF.md table, not bench input:
the driver's bench always runs the full registry on /root/testdata.
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# sf0.1 reference shape (TESTDATA.md; pyarrow-verified): 5k docs, 100k
# events over 30 days across 1.5k users.
SF01_DOCS = 5_000
SF01_EVENTS = 100_000
SF01_USERS = 1_500
SF01_SPAN_DAYS = 30

EVENT_TYPES = ("error", "view", "signup", "purchase", "click")


def build_events(spark, out_dir: str, n_events: int, n_users: int, span_days: int) -> None:
    from pyspark.sql import functions as F

    span_sec = span_days * 86_400
    base = F.lit("2024-01-01 00:00:00").cast("timestamp_ntz")
    e = spark.range(n_events).select(F.col("id").alias("event_id"))
    # monotone-ish cadence with deterministic sub-cadence jitter, like the
    # testdata generator's shape (ts strictly increasing is NOT required by
    # any query; watermark staging re-sorts anyway)
    cadence = span_sec / float(n_events)
    jitter_us = (
        F.pmod(F.xxhash64("event_id", F.lit(11)), F.lit(int(cadence * 1e6)))
    ).cast("double") / 1e6
    ts = F.timestamp_add(
        "MICROSECOND",
        ((F.col("event_id") * F.lit(cadence) + jitter_us) * 1e6).cast("long"),
        base,
    )
    typ = F.element_at(
        F.array(*[F.lit(t) for t in EVENT_TYPES]),
        (F.pmod(F.xxhash64("event_id", F.lit(12)), 5) + 1).cast("int"),
    )
    (
        e.select(
            "event_id",
            ts.alias("ts"),
            F.pmod(F.xxhash64("event_id", F.lit(13)), F.lit(n_users)).alias(
                "user_id"
            ),
            typ.alias("event_type"),
            (
                F.round(
                    F.pmod(F.xxhash64("event_id", F.lit(14)), 20000)
                    .cast("double")
                    / 100.0,
                    2,
                )
            ).alias("value"),
            F.concat(
                F.lit('{"k": '),
                F.pmod(F.xxhash64("event_id", F.lit(15)), 100).cast("string"),
                F.lit("}"),
            ).alias("props"),
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(f"{out_dir}/events.parquet")
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="/tmp/sabd_sf1")
    ap.add_argument("--factor", type=int, default=10, help="multiple of sf0.1")
    ap.add_argument("--embeddings", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from sabd_deduplicator_spark.session import default_cpus, default_driver_memory
    from tools.scale_curve import build_corpus, build_embeddings

    spark = (
        SparkSession.builder.appName("build_scaled_dir")
        .master(f"local[{default_cpus()}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir", tempfile.mkdtemp(prefix="spark-wh-"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", default_driver_memory())
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(args.out, exist_ok=True)

    t0 = time.time()
    build_corpus(spark, args.out, SF01_DOCS * args.factor)
    print(f"documents: {SF01_DOCS * args.factor} docs in {time.time()-t0:.1f}s")

    t0 = time.time()
    build_events(
        spark,
        args.out,
        SF01_EVENTS * args.factor,
        SF01_USERS * args.factor,
        SF01_SPAN_DAYS * args.factor,
    )
    print(f"events: {SF01_EVENTS * args.factor} rows in {time.time()-t0:.1f}s")

    if args.embeddings:
        t0 = time.time()
        build_embeddings(args.out, 6_250 * args.factor)
        print(f"embeddings in {time.time()-t0:.1f}s")
    spark.stop()


if __name__ == "__main__":
    main()
