"""Per-query optimization profiler (round 11): for each named query,
capture the formatted physical plan to plans/r11/<name>_<tag>.txt and
measure isolated noop-sink wall times (bench.py methodology: warm JVM +
Python worker pool, reps with untimed GC between, median reported),
plus shuffle-write / input-bytes deltas from the UI REST API.

Usage:
  python tools/profile_queries.py [--sf DIR] [--reps N] [--tag before] \
      [--no-plans] name [name ...]

Writes plans only when --tag is given; always prints a markdown table:
  name  median_s  runs  shuffle_MB  input_MB  n_stages
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import urllib.request
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from sabd_deduplicator_spark import registry
from sabd_deduplicator_spark.plans.inspect import formatted_plan
from sabd_deduplicator_spark.session import default_cpus, default_driver_memory


def get_spark_ui(app_name: str = "profile"):
    """bench session config + UI enabled for REST stage metrics."""
    import tempfile

    from pyspark.sql import SparkSession

    cpus = default_cpus()
    shuffle_parts = os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(int(cpus), 8))
    )
    return (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.warehouse.dir", tempfile.mkdtemp(prefix="spark-wh-"))
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", shuffle_parts)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.retainedStages", "5000")
        .config("spark.driver.memory", default_driver_memory())
        .getOrCreate()
    )


def _stage_totals(ui: str) -> tuple[float, float, int]:
    """(shuffle_write_bytes, input_bytes, n_stages) over all completed
    stages so far."""
    with urllib.request.urlopen(f"{ui}/api/v1/applications") as r:
        app_id = json.load(r)[0]["id"]
    with urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/stages") as r:
        stages = json.load(r)
    sw = sum(s.get("shuffleWriteBytes", 0) for s in stages)
    ib = sum(s.get("inputBytes", 0) for s in stages)
    return sw, ib, len(stages)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--tag", default=None, help="write plans/r11/<name>_<tag>.txt")
    args = ap.parse_args()

    registry.load_all_queries()
    unknown = [n for n in args.names if n not in registry.QUERIES]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    spark = get_spark_ui()
    spark.sparkContext.setLogLevel("ERROR")
    ui = spark.sparkContext.uiWebUrl
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

    plans_dir = Path(__file__).resolve().parent.parent / "plans" / "r11"
    if args.tag:
        plans_dir.mkdir(parents=True, exist_ok=True)

    print(f"| query | median_s | runs | shuffle_MB | input_MB | stages |")
    print(f"|---|---|---|---|---|---|")
    for name in args.names:
        fn = registry.QUERIES[name]
        spark.sparkContext.setJobDescription(name)
        runs: list[float] = []
        sw0 = ib0 = st0 = None
        for i in range(args.reps):
            if i == args.reps - 1:
                sw0, ib0, st0 = _stage_totals(ui)
            t0 = time.perf_counter()
            df = fn(spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 3))
            spark.sparkContext._jvm.System.gc()
        sw1, ib1, st1 = _stage_totals(ui)
        if args.tag:
            df = fn(spark, args.sf)
            (plans_dir / f"{name}_{args.tag}.txt").write_text(formatted_plan(df))
        med = round(statistics.median(runs), 3)
        print(
            f"| {name} | {med} | {runs} | "
            f"{(sw1 - sw0) / 1e6:.1f} | {(ib1 - ib0) / 1e6:.1f} | {st1 - st0} |"
        )
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
