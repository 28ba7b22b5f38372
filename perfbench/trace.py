"""Span tracing for the benchmark's traced run.

:class:`Tracer` wraps the public functions of each layer from outside the
program: it replaces the module attribute and every name a module of the
package imported from it, records a span (name, start, end, parent, the
operation it belongs to) around each call, and materializes a returned lazy
DataFrame with ``localCheckpoint`` so the span holds that layer's work. Spark
job, task, shuffle, CPU, GC and spill counts come from the status store and
are attributed to every span by the stage ids it created. Spans stay in
memory; :meth:`Tracer.dump` writes them out when the run ends.

Self time (and self counts) of a span is its own minus its child spans'.
The jobs the tracer adds to count rows run inside ``trace.count`` spans,
children of the caller's span, which the per-layer totals leave out.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PKG = "sabd_deduplicator_spark"

# (module, attribute, span name, materialize a returned DataFrame)
PATCHES = (
    ("session", "get_spark", "session.start", False),
    ("sources.writers", "overwrite_parquet", "sources.write", False),
    ("sources.writers", "append_parquet", "sources.write", False),
    ("sources.writers", "save_bucketed_table", "sources.write", False),
    ("sources.writers", "write_table", "sources.write", False),
    ("sources.writers", "read_table", "sources.read", True),
    ("operators.chunker", "chunk_fixed", "chunker", True),
    ("operators.dedup", "build_hash_links", "dedup", True),
    ("operators.encode", "encode_chunks", "encode", True),
    ("operators.encode", "decode_tokens", "encode.decode", True),
    ("api", "deduplicate", "api.deduplicate", False),
    ("api", "recover", "api.recover", False),
    ("api", "reassemble", "api.reassemble", True),
    ("api", "build_training_corpus", "api.build_training_corpus", False),
    ("operators.similarity", "shingles_of", "similarity.shingles", True),
    ("operators.similarity", "minhash_bands", "similarity.sketch", True),
    ("operators.minhash_index", "build_minhash_index", "minhash_index.build", False),
    ("operators.minhash_index", "probe_minhash_index", "minhash_index.probe", True),
    ("operators.minhash_index", "append_to_minhash_index", "minhash_index.append", False),
    ("operators.minhash_index", "index_staleness_from_stats", "minhash_index.staleness", False),
    ("operators.minhash_index", "probe_and_ingest", "minhash_index.ingest", False),
    ("operators.text", "with_tokens", "text.tokenize", True),
    ("operators.llm_pipeline", "exactsubstr_cut", "llm_pipeline.cut", True),
    ("operators.llm_pipeline", "span_survivorship", "llm_pipeline.survivorship", True),
)

SPARK_KEYS = ("jobs", "tasks", "shuffle_write_bytes", "executor_cpu_s", "gc_s", "spill_bytes")


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op: int | None
    t0: float
    t1: float = 0.0
    marks: tuple = ()  # (app id, jobs, next stage id) at start and end
    attrs: dict = field(default_factory=dict)
    spark: dict = field(default_factory=dict)  # inclusive Spark counters
    children: list = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


def _spark_context():
    from pyspark import SparkContext

    return SparkContext._active_spark_context


class SparkCounters:
    """Stage-level Spark counters from the status store, keyed by stage id."""

    def __init__(self) -> None:
        self._stages: dict[tuple[str, int], dict] = {}

    @staticmethod
    def mark():
        sc = _spark_context()
        if sc is None:
            return None
        ds = sc._jsc.sc().dagScheduler()
        return (sc.applicationId, int(ds.numTotalJobs()), int(ds.nextStageId()))

    def _stage(self, sc, app: str, sid: int) -> dict:
        key = (app, sid)
        if key not in self._stages:
            gw = sc._gateway
            seq = sc._jsc.sc().statusStore().stageData(
                sid, False, gw.jvm.java.util.ArrayList(), False, gw.new_array(gw.jvm.double, 0)
            )
            tot = dict.fromkeys(SPARK_KEYS[1:], 0)
            for i in range(seq.size()):
                s = seq.apply(i)
                tot["tasks"] += s.numCompleteTasks()
                tot["shuffle_write_bytes"] += s.shuffleWriteBytes()
                tot["executor_cpu_s"] += s.executorCpuTime() / 1e9
                tot["gc_s"] += s.jvmGcTime() / 1e3
                tot["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            self._stages[key] = tot
        return self._stages[key]

    def resolve(self, spans: list[Span]) -> None:
        """Fill ``span.spark`` for finished spans (after the listener bus has
        drained, so the status store holds every stage they ran)."""
        sc = _spark_context()
        if sc is None:
            return
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        for sp in spans:
            if sp.spark or len(sp.marks) != 2 or None in sp.marks:
                continue
            (app0, j0, s0), (app1, j1, s1) = sp.marks
            if app0 != app1 or app1 != sc.applicationId:
                continue
            tot = dict.fromkeys(SPARK_KEYS, 0)
            tot["jobs"] = j1 - j0
            for sid in range(s0, s1):
                for k, v in self._stage(sc, app1, sid).items():
                    tot[k] += v
            sp.spark = tot


def _dir_stats(path) -> tuple[int, int]:
    n = size = 0
    if path and os.path.isdir(str(path)):
        for root, _, files in os.walk(str(path)):
            for f in files:
                if not f.startswith((".", "_")):
                    n += 1
                    size += os.path.getsize(os.path.join(root, f))
    return n, size


def _write_path(args, kwargs):
    if "path" in kwargs:
        return kwargs["path"]
    return args[1] if len(args) > 1 and isinstance(args[1], str) else None


def _measure(name: str, out) -> dict:
    """Row counts of a materialized layer output (run in a ``trace.count``
    span)."""
    from pyspark.sql import functions as F

    if name == "chunker":
        return {"rows": out.count()}
    if name == "dedup":
        r = out.agg(F.count("*"), F.sum("refs_num")).first()
        return {"rows": r[0], "chunks": r[1] or 0}
    if name == "encode":
        r = out.agg(
            F.sum(F.col("token").startswith("0").cast("long")),
            F.sum(F.col("token").startswith("1").cast("long")),
        ).first()
        return {"literals": r[0] or 0, "pointers": r[1] or 0}
    if name == "similarity.shingles":
        return {"rows": out.count()}
    if name == "text.tokenize":
        return {"tokens": out.agg(F.sum(F.size("tokens"))).first()[0] or 0}
    if name == "llm_pipeline.cut":
        r = out.agg(F.sum("chars_cut"), F.sum(F.length("text"))).first()
        return {"chars_cut": r[0] or 0, "chars_kept": r[1] or 0}
    return {}


class Tracer:
    """Records spans while ``enabled``; installed wrappers pass straight
    through while it is not."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self.counters = SparkCounters()
        self._stack: list[Span] = []
        self._op: int | None = None
        self._saved: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is not None:
            self._op = op
        sp = Span(len(self.spans), name, parent.sid if parent else None, self._op,
                  time.perf_counter())
        start = SparkCounters.mark()
        self.spans.append(sp)
        if parent:
            parent.children.append(sp.sid)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.t1 = time.perf_counter()
            sp.marks = (start, SparkCounters.mark())
            if op is not None:
                self._op = None

    def note(self, **attrs) -> None:
        """Attach attributes to the innermost open span."""
        if self.enabled and self._stack:
            self._stack[-1].attrs.update(attrs)

    def resolve(self) -> None:
        if self.enabled:
            self.counters.resolve(self.spans)

    # -- layer wrappers ------------------------------------------------------
    def _wrap(self, fn, name: str, materialize: bool):
        from pyspark.sql import DataFrame

        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            write = name == "sources.write"
            before = _dir_stats(_write_path(args, kwargs)) if write else (0, 0)
            with tracer.span(name) as sp:
                out = fn(*args, **kwargs)
                if materialize and isinstance(out, DataFrame):
                    out = out.localCheckpoint(eager=True)
            with tracer.span("trace.count"):
                if write:
                    n, size = _dir_stats(_write_path(args, kwargs))
                    sp.attrs.update(files=max(0, n - before[0]), bytes=max(0, size - before[1]))
                elif isinstance(out, DataFrame):
                    sp.attrs.update(_measure(name, out))
            return out

        return wrapper

    def install(self) -> None:
        """Wrap every function in PATCHES, in its module and in every loaded
        module of the package that imported it by name."""
        if self._saved:
            return
        originals = {}
        for mod_name, attr, span_name, materialize in PATCHES:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            fn = getattr(mod, attr)
            originals[id(fn)] = (fn, self._wrap(fn, span_name, materialize))
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(PKG):
                continue
            for attr, val in list(vars(mod).items()):
                hit = originals.get(id(val))
                if hit is not None and hit[0] is val:
                    self._saved.append((mod, attr, val))
                    setattr(mod, attr, hit[1])

    def uninstall(self) -> None:
        for mod, attr, val in reversed(self._saved):
            setattr(mod, attr, val)
        self._saved.clear()

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for sp in self.spans:
                fh.write(json.dumps({
                    "id": sp.sid, "name": sp.name, "parent": sp.parent, "op": sp.op,
                    "start": sp.t0, "end": sp.t1, "attrs": sp.attrs, "spark": sp.spark,
                }) + "\n")


def self_values(spans: list[Span]) -> dict[int, tuple[float, dict]]:
    """span id -> (self seconds, self Spark counters)."""
    out = {}
    for sp in spans:
        t = sp.dur - sum(spans[c].dur for c in sp.children)
        sk = dict(sp.spark)
        for c in sp.children:
            for k, v in spans[c].spark.items():
                sk[k] = sk.get(k, 0) - v
        out[sp.sid] = (t, sk)
    return out
