"""Benchmark entry point.

    python3 perfbench/run.py --workload exact_dedup_roundtrip --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a checkout. The run sets up a local Spark session
(several times, reporting the median set-up), warms the workload up, runs
timed operations for ``--seconds`` seconds, checks every operation's output
and prints one line per metric, then, as the last line of standard output,
one JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A traced run then runs more operations with the layer tracer
on and off in turn, and reports the tracing overhead. All files go under
``.perfbench/`` in the checkout; the spans of a traced run are written to
``.perfbench/out/trace-<workload>-<seed>.jsonl``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time
import traceback

T_START = time.perf_counter()
ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
PKG = "sabd_deduplicator_spark"
SETUP_REPS = 3
CANARY_ROWS = 50_000_000
CANARY_REF_S = 0.5  # canary time on a quiet 4-vCPU host: op_p50_norm_s scales to it


def host_settings() -> dict[str, str]:
    """Spark parallelism = the CPUs this process may use; driver memory =
    a quarter of physical memory, capped at 4 GiB (the package default of
    16g can exceed a small host)."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo", encoding="utf-8") as fh:
        total_kb = int(fh.readline().split()[1])
    mem_gb = max(1, min(4, total_kb // (4 * 1024 * 1024)))
    return {"SPARK_GRAFT_CPUS": str(cpus), "SPARK_DRIVER_MEM": f"{mem_gb}g"}


def _hwm_mb(pid) -> float:
    try:
        with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot."""
    with open("/proc/stat", encoding="utf-8") as fh:
        f = fh.readline().split()
    return int(f[8]), sum(int(x) for x in f[1:])


class Run:
    def __init__(self, args, base: str) -> None:
        from perfbench.corpus import Corpus
        from perfbench.trace import Tracer
        from perfbench.workloads import WORKLOADS

        self.args = args
        self.scale = args.scale
        self.work = os.path.join(base, "data")
        os.makedirs(self.work, exist_ok=True)
        self.corpus = Corpus(args.seed)
        self.tracer = Tracer()
        self.spark = None
        self.jvm = None
        self.workload = WORKLOADS[args.workload](self)
        with open(os.path.join(HERE, "meta.json"), encoding="utf-8") as fh:
            self.meta = json.load(fh)
        self.attempted = 0
        self.failed = 0
        self.steal0 = _steal_ticks()

    def recorded_digest(self, k: int) -> str | None:
        key = f"{self.args.seed}/{self.scale}/{k}"
        return self.meta["corpus_build_digests"].get(key)

    # -- session -------------------------------------------------------------
    def start_session(self) -> None:
        from sabd_deduplicator_spark import session

        self.spark = session.get_spark("perfbench")
        sc = self.spark.sparkContext
        sc.setLogLevel("ERROR")
        self.jvm = sc._gateway.proc
        n = int(os.environ["SPARK_GRAFT_CPUS"])
        sc.parallelize(range(n), n).map(abs).count()  # start the Python workers

    def close(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
        if self.jvm is not None and self.jvm.poll() is None:
            self.jvm.terminate()
            try:
                self.jvm.wait(timeout=30)
            except Exception:  # noqa: BLE001 - the JVM must not outlive the run
                self.jvm.kill()
                self.jvm.wait()

    def canary(self, n: int) -> list[float]:
        """Times of ``n`` identical one-stage Spark jobs: the host's current
        speed at the per-job work that dominates the operations (the host is
        shared, and its speed moves operation times by 20-40% between
        runs)."""
        cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        times = []
        for _ in range(n):
            t = time.perf_counter()
            self.spark.range(0, CANARY_ROWS, 1, cpus).selectExpr("sum(hash(id, id * 7))").collect()
            times.append(time.perf_counter() - t)
        return times

    def setup(self) -> list[float]:
        times = []
        for _ in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
            t = time.perf_counter()
            self.tracer.enabled = self.args.trace == 1
            self.start_session()
            self.tracer.enabled = False
            self.workload.prepare()
            times.append(time.perf_counter() - t)
        return times

    # -- operations ----------------------------------------------------------
    def run_op(self, k: int, inject: bool):
        from perfbench.workloads import OpResult

        self.attempted += 1
        t = time.perf_counter()
        with self.tracer.span("op", op=k):
            try:
                res = self.workload.op(k, inject)
            except Exception:  # noqa: BLE001 - a failed operation is counted, not raised
                traceback.print_exc(file=sys.stderr)
                res = OpResult(time.perf_counter() - t, 0, False, detail="raised")
        self.tracer.resolve()
        if not res.ok:
            self.failed += 1
            print(f"# op {k} failed: {res.detail}", file=sys.stderr)
        return res

    def loop(self, first: int, seconds: float, inject: bool) -> list:
        ops = []
        start = time.perf_counter()
        while not ops or time.perf_counter() - start < seconds:
            ops.append(self.run_op(first + len(ops), inject and not ops))
        return ops

    def interleaved(self, first: int, seconds: float) -> tuple[list, list]:
        """Traced and untraced operations in turn, at least one pair, for
        ``seconds``: the untraced ones give the base of the tracing
        overhead in the same warm-up state."""
        plain, traced = [], []
        start = time.perf_counter()
        while not plain or time.perf_counter() - start < seconds:
            self.tracer.enabled = True
            traced.append(self.run_op(first + len(plain) + len(traced), False))
            self.tracer.enabled = False
            plain.append(self.run_op(first + len(plain) + len(traced), False))
        return plain, traced

    def execute(self) -> tuple[dict, dict]:
        from perfbench import metrics
        from perfbench.corpus import properties

        args = self.args
        traced = args.trace == 1
        if traced:
            self.tracer.install()
        setup = self.setup()
        self.tracer.enabled = traced
        self.workload.start()
        self.tracer.enabled = False
        if self.workload.warmup:
            warm = self.run_op(-1, False)  # untimed, still checked
        canary = self.canary(4)[1:]  # the first job compiles the plan
        ops = self.loop(0, args.seconds, args.inject_fault)
        canary += self.canary(3)
        lines = self.end_to_end(setup, ops, statistics.median(canary))
        if self.workload.warmup:
            lines["warmup_op_s"] = (warm.latency_s, "s")
        docs, by_id = self.workload.inputs()
        for k, v in properties(docs, by_id).items():
            lines[f"input.{k}"] = (v, "count" if k.startswith("planted_pairs") else "ratio")
        layers = {}
        if traced:
            plain, traced_ops = self.interleaved(len(ops), args.seconds)
            good = [o.latency_s for o in plain if o.in_bytes]
            good_t = [o.latency_s for o in traced_ops if o.in_bytes]
            overhead = (statistics.median(good_t) / statistics.median(good) - 1
                        if good and good_t else 0.0)
            layers = metrics.per_layer(self.tracer.spans, self.workload.band_files(), overhead)
            wrong = metrics.prediction_failures(self.meta, args.workload, layers)
            lines["trace.traced_ops"] = (len(traced_ops), "count")
            lines["trace.zero_predictions_hold"] = (int(not wrong), "bool")
            for name in wrong:
                print(f"# prediction broken: {name} = {layers[name]}", file=sys.stderr)
            out = os.path.join(ROOT, ".perfbench", "out")
            os.makedirs(out, exist_ok=True)
            self.tracer.dump(os.path.join(out, f"trace-{args.workload}-{args.seed}.jsonl"))
            self.tracer.uninstall()
        return lines, layers

    def end_to_end(self, setup: list[float], ops: list, canary: float) -> dict:
        good = [o for o in ops if o.in_bytes]
        lat = sorted(o.latency_s for o in good) or [0.0]
        wall = sum(lat) or float("nan")
        steal, total = (b - a for a, b in zip(self.steal0, _steal_ticks()))
        lines = {
            "setup_s": (statistics.median(setup), "s"),
            "op_p50_norm_s": (statistics.median(lat) * CANARY_REF_S / canary, "s"),
            "stored_bytes_per_input_byte": (self.workload.stored_ratio(good) if good else 0.0, "ratio"),
            "ok_op_frac": (1 - self.failed / self.attempted, "ratio"),
            "failed_op_frac": (self.failed / self.attempted, "ratio"),
            "op_p50_s": (statistics.median(lat), "s"),
            "timed_ops": (len(ops), "count"),
            "op_max_s": (lat[-1], "s"),
            "input_mb_per_s": (sum(o.in_bytes for o in good) / 1e6 / wall, "MB/s"),
            "peak_rss_mb": (_hwm_mb("self") + _hwm_mb(self.jvm.pid), "MB"),
            "setup_cold_s": (setup[0], "s"),
            "canary_s": (canary, "s"),
            "host_steal_frac": (steal / max(1, total), "ratio"),
        }
        for k, v in self.workload.metrics(good).items() if good else ():
            lines[k] = v
        return lines


def parse(argv):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input size; tiny is for the smoke test")
    p.add_argument("--inject-fault", action="store_true",
                   help="corrupt the first timed operation's output (smoke test)")
    return p.parse_args(argv)


def configure_env(base: str) -> None:
    """Keep every file the run writes inside the checkout and pin the host
    settings through the package's own environment variables."""
    tmp = os.path.join(base, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(host_settings())
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM the launch starts: no hsperfdata file in the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={shlex.quote(tmp)}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    tempfile.tempdir = None


def main(argv=None) -> int:
    sys.path[:0] = [ROOT, os.path.dirname(HERE)]
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: no {PKG}/ package in {ROOT}; run from a checkout root",
              file=sys.stderr)
        return 2
    args = parse(argv)
    from perfbench import metrics

    base = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-{os.getpid()}")
    configure_env(base)
    run = None
    try:
        run = Run(args, base)
        lines, layers = run.execute()
    finally:
        if run is not None:
            run.close()
        shutil.rmtree(base, ignore_errors=True)
    print(f"# workload {args.workload} seed {args.seed} scale {args.scale} "
          f"settings {json.dumps(host_settings())}")
    lines["run_wall_s"] = (time.perf_counter() - T_START, "s")
    for name, (value, unit) in lines.items():
        print(f"{name} = {value:.6g} {unit}")
    if args.trace:
        chosen = {n: (layers[n], u) for n, u, _ in metrics.PER_LAYER}
        for name, (value, unit) in chosen.items():
            print(f"{name} = {value:.6g} {unit}")
    else:
        chosen = {n: lines[n] for n, *_ in metrics.END_TO_END}
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in chosen.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
