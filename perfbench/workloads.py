"""The benchmark's workloads, each a closed loop of one client.

A workload prepares its inputs during set-up, does its untimed start work
(the near-dup index build), runs one untimed warm-up operation, then runs
timed operations until the run's seconds are used. Every operation reads an
input file it has not read before, calls the package's public API the way a
user does, and checks its own output; a failed or wrong operation is
counted, not raised.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from perfbench import reference
from perfbench.corpus import CorpusSpec, Doc, bigrams, jaccard_at_least_half, text_bytes, write_parquet

MB = 1e6

# full-size and smoke-test-size inputs per workload
SCALES = {
    "full": {"exact_docs": 450, "exact_words": (100, 400),
             "base_docs": 1000, "slice_docs": 300},
    "tiny": {"exact_docs": 40, "exact_words": (30, 80),
             "base_docs": 150, "slice_docs": 40},
}
PLANTED = 0.4  # share of a corpus_ingest slice that is a mutated stored doc
MUTATION = (0.02, 0.3)  # per-copy word-replace rate range


@dataclass
class OpResult:
    latency_s: float
    in_bytes: int
    ok: bool
    phases: dict = field(default_factory=dict)
    detail: str = ""


def dir_bytes(path: str) -> int:
    """On-disk bytes of the data files under ``path`` (Spark's ``_SUCCESS``
    markers and ``.crc`` checksums excluded)."""
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path)
               for f in fs if not f.startswith((".", "_")))


class Workload:
    name = ""
    warmup = True  # run one untimed operation before the timed loop

    def __init__(self, ctx) -> None:
        self.ctx = ctx  # the run: spark, corpus, scale, work dir, tracer
        self.sizes = SCALES[ctx.scale]

    @property
    def spark(self):
        return self.ctx.spark

    def path(self, *parts: str) -> str:
        return os.path.join(self.ctx.work, *parts)

    def prepare(self) -> None:
        """Input generation, repeated by every set-up."""

    def start(self) -> None:
        """Untimed work before the warm-up operation."""

    def op(self, k: int, inject: bool) -> OpResult:
        """Operation ``k`` (-1 is the warm-up); ``inject`` corrupts its output
        before the check."""
        raise NotImplementedError

    def inputs(self) -> tuple[list[Doc], dict | None]:
        """Timed operations' input docs, and every doc by id."""
        raise NotImplementedError

    def stored_ratio(self, ops: list[OpResult]) -> float:
        """On-disk output bytes per raw input byte."""
        raise NotImplementedError

    def metrics(self, ops: list[OpResult]) -> dict:
        """Workload-specific metrics: name -> (value, unit)."""
        return {}

    def band_files(self) -> int:
        return 0


class ExactDedupRoundtrip(Workload):
    """api.deduplicate (fixed 16-char chunks, md5) of a slice, hash_links and
    tokens persisted with sources.writers, tokens read back, recovered and
    reassembled; every doc must come back byte for byte."""

    name = "exact_dedup_roundtrip"

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self.spec = CorpusSpec(
            n_docs=self.sizes["exact_docs"], words=self.sizes["exact_words"],
            exact_copy_share=0.3, boilerplate_share=0.5, align=16,
        )
        self.slices: dict[int, list[Doc]] = {}

    def _input(self, k: int) -> str:
        self.slices[k] = self.ctx.corpus.slice(f"exact-{k}", self.spec, first_id=1)
        path = self.path(f"in-exact-{k}.parquet")
        write_parquet(self.slices[k], path)
        return path

    def prepare(self) -> None:
        self._input(-1)

    def op(self, k: int, inject: bool) -> OpResult:
        from sabd_deduplicator_spark import api
        from sabd_deduplicator_spark.sources import writers

        src = self._input(k) if k >= 0 else self.path("in-exact--1.parquet")
        docs = self.slices[k]
        hl, tok = self.path(f"hash_links-{k}"), self.path(f"tokens-{k}")
        t0 = time.perf_counter()
        res = api.deduplicate(self.spark, writers.read_table(self.spark, src))
        writers.overwrite_parquet(res.hash_links, hl)
        writers.overwrite_parquet(res.tokens, tok)
        t1 = time.perf_counter()
        back = writers.read_table(self.spark, tok)
        rows = api.reassemble(api.recover(back, pointer_width=res.pointer_width)).collect()
        t2 = time.perf_counter()
        got = {r["file_id"]: r["text"] for r in rows}
        if inject and got:
            got[min(got)] += "x"
        want = {d.doc_id: d.text for d in docs if d.text}
        n_links = pq.read_table(hl).num_rows
        n_distinct = len({d.text[j:j + 16] for d in docs for j in range(0, len(d.text), 16)})
        ok = got == want and n_links == n_distinct
        return OpResult(
            t2 - t0, text_bytes(docs), ok,
            {"dedup_s": t1 - t0, "recover_s": t2 - t1,
             "stored_bytes": dir_bytes(hl) + dir_bytes(tok),
             "recovered_bytes": sum(len(t.encode()) for t in got.values())},
            "" if ok else f"{sum(got.get(i) == t for i, t in want.items())}/{len(want)} "
            f"docs recovered exactly; hash_links {n_links} rows for {n_distinct} distinct chunks",
        )

    def inputs(self):
        return [d for k in sorted(self.slices) if k >= 0 for d in self.slices[k]], None

    def stored_ratio(self, ops):
        return sum(o.phases["stored_bytes"] for o in ops) / sum(o.in_bytes for o in ops)

    def metrics(self, ops):
        return {
            "dedup_mb_per_s": (sum(o.in_bytes for o in ops) / MB
                               / sum(o.phases["dedup_s"] for o in ops), "MB/s"),
            "recover_mb_per_s": (sum(o.phases["recovered_bytes"] for o in ops) / MB
                                 / sum(o.phases["recover_s"] for o in ops), "MB/s"),
        }


class CorpusIngest(Workload):
    """A MinHash index built once over a stored base corpus; each operation
    runs api.build_training_corpus(cut_repeated_spans=True) on a fresh
    multi-language slice with boilerplate spans, writes clean_docs to parquet
    and feeds them to probe_and_ingest. Part of each slice is planted mutated
    copies of stored docs."""

    name = "corpus_ingest"
    # no warm-up operation: the index build before the loop is the only
    # untimed work, so the first timed operation is the first ingest of a
    # fresh process, as in a nightly batch job (and a warm-up would not fit
    # the run budget)
    warmup = False

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self.base_spec = CorpusSpec(n_docs=self.sizes["base_docs"], words=(25, 85),
                                    stopword_rate=(0.08, 0.2))
        n = self.sizes["slice_docs"]
        self.planted = int(n * PLANTED)
        self.novel_spec = CorpusSpec(n_docs=n - self.planted, words=(12, 110),
                                     exact_copy_share=0.05, boilerplate_share=0.3,
                                     stopword_rate=(0.0, 0.2))
        self.slices: dict[int, list[Doc]] = {}
        self.by_id: dict[int, Doc] = {}
        self.stored: dict[int, str] = {}  # doc_id -> text held by the index
        self.idx = None
        self.index_build_s = 0.0
        self.recall = [0, 0]
        self.kept = [0, 0]

    def prepare(self) -> None:
        self.base = self.ctx.corpus.slice("ingest-base", self.base_spec, first_id=1)
        self.by_id = {d.doc_id: d for d in self.base}
        self.stored = {d.doc_id: d.text for d in self.base}
        write_parquet(self.base, self.path("in-base.parquet"), extra=True)

    def start(self) -> None:
        from sabd_deduplicator_spark.operators import minhash_index
        from sabd_deduplicator_spark.sources import writers

        t = time.perf_counter()
        self.idx = minhash_index.build_minhash_index(
            self.spark, writers.read_table(self.spark, self.path("in-base.parquet")),
            self.path("index"), "perfbench_index",
        )
        self.index_build_s = time.perf_counter() - t

    def _input(self, k: int) -> str:
        first = (k + 2) * 1_000_000
        docs = self.ctx.corpus.mutated(f"ingest-mut-{k}", self.base, self.planted, first, MUTATION)
        docs += self.ctx.corpus.slice(f"ingest-new-{k}", self.novel_spec, first + self.planted)
        self.slices[k] = docs
        self.by_id.update((d.doc_id, d) for d in docs)
        path = self.path(f"in-slice-{k}.parquet")
        write_parquet(docs, path, extra=True)
        return path

    def op(self, k: int, inject: bool) -> OpResult:
        from sabd_deduplicator_spark import api
        from sabd_deduplicator_spark.operators import minhash_index
        from sabd_deduplicator_spark.sources import writers

        src = self._input(k)
        docs = self.slices[k]
        out = self.path(f"clean-{k}")
        t0 = time.perf_counter()
        res = api.build_training_corpus(
            self.spark, writers.read_table(self.spark, src), cut_repeated_spans=True
        )
        writers.overwrite_parquet(res.clean_docs, out)
        t1 = time.perf_counter()
        pairs, novel, report = minhash_index.probe_and_ingest(
            self.spark, self.idx, writers.read_table(self.spark, out)
        )
        got = [(r["delta_doc"], r["corpus_doc"]) for r in pairs.collect()]
        novel_ids = {r["doc_id"] for r in novel.select("doc_id").collect()}
        t2 = time.perf_counter()
        tbl = pq.read_table(out, columns=["doc_id", "lang", "source", "split", "text", "n_tokens"])
        rows = list(zip(*(tbl.column(c).to_pylist() for c in tbl.column_names)))
        if inject and rows:
            got.append((rows[0][0], min(self.stored)))
        want = reference.clean_docs([(d.doc_id, d.text, d.lang, d.source) for d in docs])
        digest = reference.digest(rows)
        recorded = self.ctx.recorded_digest(k)
        clean_ok = digest == reference.digest(want) and recorded in (None, digest)

        texts = {r[0]: r[4] for r in rows}
        sh: dict[int, set[str]] = {}

        def shingles(i: int) -> set[str]:
            if i not in sh:
                sh[i] = bigrams(texts[i] if i in texts else self.stored[i])
            return sh[i]

        bad = [p for p in got if p[0] not in texts or p[1] not in self.stored
               or not jaccard_at_least_half(shingles(p[0]), shingles(p[1]))]
        paired = {p[0] for p in got}
        novel_ok = novel_ids == set(texts) - paired
        self.stored.update((i, texts[i]) for i in novel_ids if i in texts)
        planted = [d for d in docs if d.mutation > 0 and d.doc_id in texts
                   and jaccard_at_least_half(shingles(d.doc_id), shingles(d.copy_of))]
        reported = set(got)
        self.recall[0] += sum((d.doc_id, d.copy_of) in reported for d in planted)
        self.recall[1] += len(planted)
        self.kept[0] += len(rows)
        self.kept[1] += len(docs)
        self.ctx.tracer.note(
            pairs=len(got), novel=len(novel_ids), delta=len(rows),
            oversized=report.get("n_oversized_buckets", 0),
            slow_path=report.get("n_slow_path_docs", 0),
            docs_in=len(docs), docs_kept=len(rows),
        )
        ok = clean_ok and not bad and novel_ok
        return OpResult(
            t2 - t0, text_bytes(docs), ok,
            {"build_s": t1 - t0, "ingest_s": t2 - t1, "delta_docs": len(rows),
             "clean_bytes": dir_bytes(out)},
            "" if ok else f"clean_docs {'ok' if clean_ok else 'differ'} ({len(rows)} rows, "
            f"{len(want)} expected); {len(bad)} pairs below Jaccard 0.5; "
            f"novel set {'ok' if novel_ok else 'wrong'}",
        )

    def inputs(self):
        return [d for k in sorted(self.slices) if k >= 0 for d in self.slices[k]], self.by_id

    def stored_ratio(self, ops):
        """Index plus clean_docs bytes per raw byte of everything the index
        has seen: the base corpus and every slice."""
        stored = dir_bytes(self.idx.index_dir) + sum(o.phases["clean_bytes"] for o in ops)
        raw = text_bytes(self.base) + sum(text_bytes(d) for d in self.slices.values())
        return stored / raw

    def band_files(self) -> int:
        if self.idx is None:
            return 0
        return sum(f.endswith(".parquet") for r, _, fs in os.walk(self.idx.index_dir)
                   if os.path.relpath(r, self.idx.index_dir).startswith("bands") for f in fs)

    def metrics(self, ops):
        ingest = [o.phases["ingest_s"] for o in ops]
        return {
            "index_build_s": (self.index_build_s, "s"),
            "corpus_mb_per_s": (sum(o.in_bytes for o in ops) / MB
                                / sum(o.phases["build_s"] for o in ops), "MB/s"),
            "ingest_batch_p50_s": (statistics.median(ingest), "s"),
            "ingest_batch_samples": (len(ingest), "count"),
            "ingest_docs_per_s": (sum(o.phases["delta_docs"] for o in ops) / sum(ingest), "docs/s"),
            "neardup_recall": (self.recall[0] / max(1, self.recall[1]), "ratio"),
            "neardup_recall_pairs": (self.recall[1], "count"),
            "kept_doc_frac": (self.kept[0] / max(1, self.kept[1]), "ratio"),
        }


WORKLOADS = {w.name: w for w in (ExactDedupRoundtrip, CorpusIngest)}
