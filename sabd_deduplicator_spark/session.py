"""SparkSession builder used by tests and bench.

The driver supplies its own session to ``__spark_entry__``; queries therefore
never call this module — it exists so local runs get the same tuned config.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _effective_blas_threads() -> str:
    """ONE resolved per-worker BLAS thread count, applied identically to the
    cluster leg (spark.executorEnv) and the local-mode JVM-launch export —
    previously the two legs could disagree when the user had exported
    OPENBLAS_NUM_THREADS themselves (ADVICE r11): the env export skipped
    already-set vars (user wins) while executorEnv always took
    SPARK_GRAFT_BLAS_THREADS (override wins). Precedence, strongest first:
    SPARK_GRAFT_BLAS_THREADS (this package's explicit knob) >
    OPENBLAS_NUM_THREADS / OMP_NUM_THREADS from the user's environment >
    the capped default of 1 (see the builder comment on why uncapped
    per-worker pools pathologically oversubscribe)."""
    env = os.environ.get("SPARK_GRAFT_BLAS_THREADS")
    if env:
        return env
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS"):
        user = os.environ.get(var)
        if user:
            return user
    return "1"


def default_cpus() -> str:
    """$SPARK_GRAFT_CPUS, else the CPUs this process may run on."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def default_driver_memory() -> str:
    """$SPARK_DRIVER_MEM, else half of the host's physical memory, at least
    1g — a local session's driver JVM is the whole cluster, so its heap
    must fit the host."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return os.environ.get("SPARK_DRIVER_MEM") or f"{max(1, total // 2 // 2**30)}g"


def get_spark(app_name: str = "sabd-dedup-spark") -> SparkSession:
    """local[$SPARK_GRAFT_CPUS] session with AQE + Arrow enabled.

    Defaults fit the host: SPARK_GRAFT_CPUS defaults to the CPUs this
    process may run on, SPARK_DRIVER_MEM to half of physical memory (at
    least 1g); both environment variables still override.

    Settings chosen for scale posture (they all carry to a real cluster):
    - AQE on: runtime shuffle coalescing + skew-join splitting (duplicated
      content makes chunk-hash distributions skewed by construction).
    - shuffle.partitions = 2x cores locally; on a 1000-executor cluster this
      would be sized to ~128MB per post-shuffle partition — AQE coalesces down.
    - Arrow for any pandas interchange (toPandas / pandas UDF paths).
    """
    import tempfile

    cpus = default_cpus()
    # adversarial-determinism probes (PERF.md): odd partition counts and AQE
    # off must not change any oracle-checked value
    shuffle_parts = os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(int(cpus), 8))
    )
    aqe = "false" if os.environ.get("SPARK_GRAFT_AQE", "1") in ("0", "false") else "true"
    builder = (
        SparkSession.builder.appName(app_name)
        # keep the metastore warehouse out of the repo cwd (saveAsTable)
        .config("spark.sql.warehouse.dir", tempfile.mkdtemp(prefix="spark-wh-"))
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", shuffle_parts)
        .config("spark.sql.adaptive.enabled", aqe)
        .config("spark.sql.adaptive.coalescePartitions.enabled", aqe)
        .config("spark.sql.adaptive.skewJoin.enabled", aqe)
        # BLAS threads inside Python workers: ONE per worker (env-overridable
        # for cluster shapes with fewer, fatter executors). Parallelism comes
        # from the task/worker fan-out — one worker per CPU — so an
        # uncapped OpenBLAS pool both oversubscribes cores at steady state
        # and, far worse on this host, pays a pathological pool spin-up in
        # every freshly FORKED worker (measured standalone: 32 concurrent
        # forked children each took ~29 s for their first threaded GEMM vs
        # 0.12 s with the pool disabled — the tile-BLAS queries ran 8–10×
        # slow whenever the worker pool grew mid-run). executorEnv is the
        # cluster-mode mechanism; local mode needs the JVM-launch env below
        # because the worker daemon preloads numpy before per-task env
        # updates apply.
        .config(
            "spark.executorEnv.OPENBLAS_NUM_THREADS",
            _effective_blas_threads(),
        )
        .config(
            "spark.executorEnv.OMP_NUM_THREADS",
            _effective_blas_threads(),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # UDTFs eval via Arrow batches (ArrowEvalPythonUDTF), not row pickling
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", default_driver_memory())
    )
    # Local-mode leg of the BLAS cap: the Python worker DAEMON preloads
    # numpy (pyspark.daemon imports pyspark.worker at startup), and OpenBLAS
    # fixes its threading at library load — per-task env updates inside the
    # worker arrive too late. The daemon inherits the JVM's environment and
    # the JVM inherits ours at launch, so export the cap only around session
    # creation, then remove it again so DRIVER-side numpy (bench host
    # canaries, scalar helpers) keeps its historical threading behavior.
    blas_threads = _effective_blas_threads()
    saved: dict[str, str | None] = {}
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS"):
        if os.environ.get(var) != blas_threads:
            saved[var] = os.environ.get(var)
            os.environ[var] = blas_threads
    try:
        return builder.getOrCreate()
    finally:
        for var, old in saved.items():
            if old is None:
                del os.environ[var]
            else:
                os.environ[var] = old
