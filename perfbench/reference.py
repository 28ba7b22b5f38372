"""Plain-Python reference of ``api.build_training_corpus(cut_repeated_spans=True)``
with its default gates, used to check the Spark output of every corpus_build
operation.

Semantics, stage by stage:

1. ExactSubstr cut: every stride-1 window of ``W`` characters that occurs
   twice or more anywhere in the slice is repeated; per document, repeated
   window starts closer than ``W`` apart merge into one span
   ``[first, last + W)``, and the text outside the spans is kept.
2. Whitespace tokens of the cut text (``split(" ")``, empty tokens kept).
3. Span survivorship: each document's tokens form ``SPAN``-token spans; a span
   is kept only in the first (doc_id, span index) where its text occurs.
4. Gates: kept spans >= 50% of spans, ``MIN_TOK <= tokens <= MAX_TOK`` and
   stop words >= 5% of tokens, all on the cut text.
5. Split label from the first two hex digits of md5(doc_id).
"""

from __future__ import annotations

import hashlib

W = 32
SPAN = 8
MIN_TOK, MAX_TOK = 20, 90
STOPWORDS = frozenset(("the", "a", "of", "and", "to", "in", "is", "on", "for", "with"))


def _cut(text: str, repeated: set[str]) -> tuple[str, int]:
    starts = [i for i in range(len(text) - W + 1) if text[i : i + W] in repeated]
    if not starts:
        return text, 0
    spans = []
    lo = hi = starts[0]
    for i in starts[1:]:
        if i - hi > W:
            spans.append((lo, hi + W))
            lo = i
        hi = i
    spans.append((lo, hi + W))
    kept, pos, cut = [], 0, 0
    for a, b in spans:
        kept.append(text[pos:a])
        cut += b - a
        pos = b
    kept.append(text[pos:])
    return "".join(kept), cut


def _split(doc_id: int) -> str:
    b = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:2], 16)
    return "train" if b < 204 else ("val" if b < 230 else "test")


def clean_docs(rows: list[tuple[int, str, str, str]]) -> list[tuple]:
    """(doc_id, text, lang, source) rows -> the expected clean_docs rows
    (doc_id, lang, source, split, text, n_tokens)."""
    counts: dict[str, int] = {}
    for _, text, _, _ in rows:
        for i in range(len(text) - W + 1):
            w = text[i : i + W]
            counts[w] = counts.get(w, 0) + 1
    repeated = {w for w, c in counts.items() if c >= 2}
    seen: set[str] = set()
    out = []
    for doc_id, text, lang, source in sorted(rows):
        cut, _ = _cut(text, repeated)
        toks = cut.split(" ")
        spans = [" ".join(toks[i : i + SPAN]) for i in range(0, len(toks), SPAN)]
        kept = []
        for s in spans:
            if s not in seen:
                seen.add(s)
                kept.append(s)
        n_stop = sum(t in STOPWORDS for t in toks)
        if (
            2 * len(kept) >= len(spans)
            and MIN_TOK <= len(toks) <= MAX_TOK
            and 100 * n_stop >= 5 * len(toks)
        ):
            kept_text = " ".join(kept)
            out.append(
                (doc_id, lang, source, _split(doc_id), kept_text, len(kept_text.split(" ")))
            )
    return out


def digest(rows) -> str:
    """Order-insensitive digest of (doc_id, lang, source, split, text,
    n_tokens) rows."""
    lines = sorted("\x1f".join(str(v) for v in r) for r in rows)
    return hashlib.sha256("\x1e".join(lines).encode("utf-8")).hexdigest()
