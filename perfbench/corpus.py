"""Seeded synthetic corpora for the benchmark workloads.

Every document comes from ``random.Random`` streams keyed by the run seed and
a slice name, so the same seed always gives the same inputs and every timed
operation gets a slice it has not seen before. The generator keeps a record
of how each document was made (verbatim copy, mutated copy of which source,
which characters are pooled boilerplate), and :func:`properties` measures the
shares a later claim may depend on.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ("en", "de", "fr", "es")
SOURCES = ("web", "books", "forums", "news")
# the corpus-build stop-word gate counts these tokens; the generator salts
# documents with them at a per-document rate so the gate keeps some and
# drops others
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")
_LETTERS = {
    "en": "abcdefghiklmnoprstuwy",
    "de": "abdeghiklmnorstuwzäöü",
    "fr": "abcdeilmnoprstuvéèà",
    "es": "abcdeilmnoprstuvñáó",
}
CHUNK = 16  # chunk width of the exact-dedup workload


@dataclass(frozen=True)
class CorpusSpec:
    """Shape of one generated slice."""

    n_docs: int
    words: tuple[int, int]  # document length range, in words
    exact_copy_share: float = 0.0  # docs that repeat an earlier doc verbatim
    boilerplate_share: float = 0.0  # docs that carry pooled boilerplate spans
    stopword_rate: tuple[float, float] = (0.0, 0.0)  # per-doc stop-word share
    align: int = 0  # pad segments to this many chars (0: no padding)


@dataclass
class Doc:
    doc_id: int
    text: str
    lang: str = "en"
    source: str = "web"
    copy_of: int | None = None  # verbatim or mutated source doc_id
    mutation: float = 0.0  # per-word replace rate of a near-dup copy
    boiler_chars: int = 0  # characters that come from the boilerplate pool


@dataclass
class Corpus:
    """Vocabularies and boilerplate pool fixed by the seed."""

    seed: int
    vocab_size: int = 4000
    vocab: dict[str, list[str]] = field(init=False)
    pool: list[str] = field(init=False)

    def __post_init__(self) -> None:
        rng = self.rng("vocab")
        self.vocab = {}
        for lang in LANGS:
            letters = _LETTERS[lang]
            words: set[str] = set()
            while len(words) < self.vocab_size:
                w = "".join(rng.choice(letters) for _ in range(rng.randint(3, 9)))
                if w not in STOPWORDS:
                    words.add(w)
            self.vocab[lang] = sorted(words)
        self.pool = [
            " ".join(rng.choice(self.vocab["en"]) for _ in range(rng.randint(8, 20)))
            for _ in range(24)
        ]

    def rng(self, name: str) -> random.Random:
        digest = hashlib.sha256(f"{self.seed}|{name}".encode()).digest()
        return random.Random(int.from_bytes(digest[:8], "big"))

    def _words(self, rng: random.Random, lang: str, n: int, stop: float) -> list[str]:
        vocab = self.vocab[lang]
        return [
            rng.choice(STOPWORDS) if rng.random() < stop else rng.choice(vocab)
            for _ in range(n)
        ]

    def _pad(self, seg: str, align: int) -> str:
        if not align:
            return seg
        return seg + " " * (-len(seg) % align)

    def slice(self, name: str, spec: CorpusSpec, first_id: int) -> list[Doc]:
        """``spec.n_docs`` documents with ids from ``first_id``: novel text,
        verbatim copies of earlier docs of the slice and pooled boilerplate
        spans at segment boundaries (aligned to ``spec.align`` chars, so
        fixed-size chunks of a repeated span repeat too)."""
        rng = self.rng(name)
        docs: list[Doc] = []
        for i in range(spec.n_docs):
            doc_id = first_id + i
            lang = rng.choice(LANGS)
            source = rng.choice(SOURCES)
            if docs and rng.random() < spec.exact_copy_share:
                src = rng.choice(docs)
                docs.append(
                    Doc(doc_id, src.text, lang, source, src.doc_id, 0.0, src.boiler_chars)
                )
                continue
            stop = rng.uniform(*spec.stopword_rate)
            n_words = rng.randint(*spec.words)
            segs: list[str] = []
            boiler = 0
            while n_words > 0:
                take = min(n_words, rng.randint(6, 24))
                n_words -= take
                segs.append(self._pad(" ".join(self._words(rng, lang, take, stop)), spec.align))
                if rng.random() < spec.boilerplate_share / 2:
                    span = self._pad(rng.choice(self.pool), spec.align)
                    segs.append(span)
                    boiler += len(span)
            sep = "" if spec.align else " "
            docs.append(Doc(doc_id, sep.join(segs), lang, source, boiler_chars=boiler))
        return docs

    def mutated(self, name: str, sources: list[Doc], n: int, first_id: int,
                rate: tuple[float, float]) -> list[Doc]:
        """Near-dup copies of ``n`` distinct random ``sources``: each word is
        replaced by a random vocabulary word with a per-copy probability drawn
        from ``rate``."""
        rng = self.rng(name)
        out = []
        for i, src in enumerate(rng.sample(sources, n)):
            m = rng.uniform(*rate)
            vocab = self.vocab[src.lang]
            words = [
                rng.choice(vocab) if rng.random() < m else w
                for w in src.text.split(" ")
            ]
            out.append(Doc(first_id + i, " ".join(words), src.lang, src.source, src.doc_id, m))
        return out


def write_parquet(docs: list[Doc], path: str, extra: bool = False) -> int:
    """Write (doc_id, text[, lang, source]) to one parquet file; returns the
    UTF-8 byte count of the text column (the raw input size)."""
    cols = {
        "doc_id": pa.array([d.doc_id for d in docs], pa.int64()),
        "text": pa.array([d.text for d in docs], pa.string()),
    }
    if extra:
        cols["lang"] = pa.array([d.lang for d in docs], pa.string())
        cols["source"] = pa.array([d.source for d in docs], pa.string())
    pq.write_table(pa.table(cols), path)
    return text_bytes(docs)


def text_bytes(docs: list[Doc]) -> int:
    return sum(len(d.text.encode("utf-8")) for d in docs)


def bigrams(text: str) -> set[str]:
    """The near-dup index's shingles: distinct word bigrams of the
    space-split text."""
    s = text.split(" ")
    return {s[i] + " " + s[i + 1] for i in range(len(s) - 1)}


def jaccard_at_least_half(a: set[str], b: set[str]) -> bool:
    inter = len(a & b)
    return 2 * inter >= len(a) + len(b) - inter and inter > 0


def properties(docs: list[Doc], by_id: dict[int, Doc] | None = None) -> dict:
    """Measured input properties: share of fixed 16-char chunks that repeat
    an earlier chunk, planted near-dup pairs at word-bigram Jaccard >= 0.5,
    and share of text inside pooled boilerplate spans."""
    seen: set[str] = set()
    n_chunks = n_repeat = 0
    for d in docs:
        t = d.text
        for j in range(0, len(t), CHUNK):
            c = t[j : j + CHUNK]
            n_chunks += 1
            if c in seen:
                n_repeat += 1
            else:
                seen.add(c)
    planted = [d for d in docs if d.mutation > 0 and by_id is not None]
    above = sum(
        jaccard_at_least_half(bigrams(d.text), bigrams(by_id[d.copy_of].text))
        for d in planted
    )
    chars = sum(len(d.text) for d in docs)
    return {
        "repeat_chunk_frac": n_repeat / max(1, n_chunks),
        "planted_pairs": len(planted),
        "planted_pairs_j50": above,
        "planted_j50_frac": above / max(1, len(planted)),
        "boilerplate_char_frac": sum(d.boiler_chars for d in docs) / max(1, chars),
    }
