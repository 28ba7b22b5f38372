"""High-level API: the reference's two public entry points, set-oriented.

Reference surface (/root/reference/lib/deduplicator.ex):
    deduplicate_file(input, opts)  →  encoded file + files/hash_links rows
        opts: bytes (chunk size), hash algorithm, chunk_amount (batch size),
              output path, compress    (:22-57)
    recovery_file(input, output, opts) → original bytes   (:149-171)

Engine equivalents — each returns DataFrames instead of writing local files
(callers persist with sources/writers.py; `chunk_amount` has no meaning in a
set-oriented plan — partition size plays that role; `compress` is a parquet
codec option):

    deduplicate(spark, docs)  → DedupResult(files, chunks, hash_links, tokens)
    recover(spark, tokens)    → chunks, and reassemble() → original strings
    repetition_report(links)  → the reference's chunk_repetition query

One Spark job graph end to end: chunk (narrow) → hash+first-occurrence
(1 shuffle) → encode (1 shuffle by (file,hash)) → index aggregate. The
reference's per-chunk Postgres probe and flush loop disappear into the plan
(SURVEY.md §3.1 translation).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sabd_deduplicator_spark.operators.chunker import chunk_fixed
from sabd_deduplicator_spark.operators.dedup import build_hash_links
from sabd_deduplicator_spark.operators.encode import (
    POINTER_WIDTH,
    decode_tokens,
    encode_chunks,
    required_pointer_width,
)


@dataclass
class DedupResult:
    files: DataFrame       # catalog: file_id, filename, bytes, algorithm
    chunks: DataFrame      # file_id, line, chunk
    hash_links: DataFrame  # hash, file_id, line, refs_num
    tokens: DataFrame      # file_id, line, token
    pointer_width: int = POINTER_WIDTH  # width tokens were encoded with


def deduplicate(
    spark: SparkSession,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = 16,
    algorithm: str = "md5",
    pointer_width: int | None = POINTER_WIDTH,
    chunker: str = "fixed",
) -> DedupResult:
    """Full dedup pipeline over a corpus DataFrame (one row per document /
    file). Mirrors deduplicate_file's observable outputs; every piece is a
    lazy plan the caller can persist or extend.

    pointer_width bounds the encodable chunk count per file at
    10**pointer_width; encode_chunks raises loudly (never truncates) past
    it. Pass pointer_width=None to auto-size from the corpus (one extra
    scalar-aggregation job over the narrow chunk scan).

    chunker="cdc" swaps the reference's fixed-size splitter for
    content-defined chunking (operators/cdc.py) — same downstream
    hash/encode/recover pipeline (the grammar is chunker-agnostic, pinned
    by cdc_encode_roundtrip), but chunk boundaries survive insertions, so
    re-ingesting an edited corpus reuses ~90% of the chunk store instead
    of ~0% (dedup_cdc_vs_fixed census). chunk_size is ignored for CDC
    (expected chunk length is 1/P(cut) = 32); the files catalog records
    bytes=0 to mark variable-size chunks."""
    named = docs.select(
        F.col(id_col).alias("file_id"),
        F.col(id_col).cast("string").alias("filename"),
        F.col(text_col).alias("text"),
    )
    if chunker not in ("fixed", "cdc"):
        raise ValueError(f"unknown chunker {chunker!r}: expected 'fixed' or 'cdc'")
    files = named.select(
        "file_id",
        "filename",
        F.lit(chunk_size if chunker == "fixed" else 0).alias("bytes"),
        F.lit(algorithm).alias("algorithm"),
    )
    if chunker == "cdc":
        from sabd_deduplicator_spark.operators.cdc import chunk_cdc

        chunks = chunk_cdc(named, text_col="text", id_cols=("file_id",))
    else:
        chunks = chunk_fixed(
            named, text_col="text", id_cols=("file_id",), size=chunk_size
        )
    if pointer_width is None:
        pointer_width = required_pointer_width(chunks)
    links = build_hash_links(chunks, algorithm=algorithm)
    tokens = encode_chunks(
        chunks, file_col="file_id", algorithm=algorithm, pointer_width=pointer_width
    )
    return DedupResult(
        files=files,
        chunks=chunks,
        hash_links=links,
        tokens=tokens,
        pointer_width=pointer_width,
    )


def forget(
    result: DedupResult, file_ids: DataFrame, algorithm: str = "md5"
) -> DedupResult:
    """Right-to-be-forgotten over a DedupResult: erase the given file_ids
    (a one-column DataFrame) from every component. The hash_links index is
    unmerged INCREMENTALLY (refcounts decremented, erased first-occurrence
    pointers reassigned to the min surviving occurrence;
    delete-equals-rebuild is the dedup_forget_docs oracle theorem);
    files/chunks are anti-join filtered. The TOKEN streams are re-encoded
    over the surviving chunks: surviving pointers may reference a deleted
    file's stream (the erased file held the first occurrence), so a bare
    filter would leave dangling pointers — erasure in a content-addressed
    store must rewrite the files whose encodings point into the erased
    ones, and the new first-occurrence owners must flip their pointer back
    to a literal. The re-encode is expressed as the (lazy) survivor encode
    plan; the physically-affected file set is bounded by pointers into
    erased streams. The reference has no erasure path at all (its Postgres
    index only inserts and increments, lib/deduplicator/hash.ex:47-102);
    recovery of every surviving file stays byte-exact (tested)."""
    from sabd_deduplicator_spark.operators.dedup import unmerge_hash_links

    ids = file_ids.select(
        F.col(file_ids.columns[0]).cast("long").alias("file_id")
    ).distinct()
    deleted = result.chunks.join(ids, "file_id", "left_semi")
    kept = result.chunks.join(ids, "file_id", "left_anti")
    return DedupResult(
        files=result.files.join(ids, "file_id", "left_anti"),
        chunks=kept,
        hash_links=unmerge_hash_links(
            result.hash_links, deleted, kept, algorithm=algorithm
        ),
        tokens=encode_chunks(
            kept,
            file_col="file_id",
            algorithm=algorithm,
            pointer_width=result.pointer_width,
        ),
        pointer_width=result.pointer_width,
    )


def recover(
    tokens: DataFrame,
    file_col: str = "file_id",
    pointer_width: int = POINTER_WIDTH,
) -> DataFrame:
    """recovery_file equivalent: token stream → (file, line, chunk)."""
    return decode_tokens(tokens, file_col=file_col, pointer_width=pointer_width)


def reassemble(
    chunks: DataFrame, file_col: str = "file_id", chunk_col: str = "chunk"
) -> DataFrame:
    """(file, line, chunk) → (file, text): byte-for-byte reassembly
    (the reference's sequential binwrite, as an ordered per-file concat)."""
    return chunks.groupBy(file_col).agg(
        F.array_join(
            F.expr(
                f"transform(sort_array(collect_list(struct(line, {chunk_col}))), s -> s.{chunk_col})"
            ),
            "",
        ).alias("text")
    )


def repetition_report(hash_links: DataFrame) -> DataFrame:
    """The reference's chunk_repetition report
    (test/deduplicator_test.exs:323-330): hashes with refs_num > 1, most
    repeated first."""
    return (
        hash_links.filter(F.col("refs_num") > 1)
        .select("hash", "refs_num")
        .orderBy(F.desc("refs_num"), "hash")
    )


def compression_stats(result: DedupResult) -> DataFrame:
    """Per-file encoded-vs-raw size — what the reference only eyeballs in
    test output (SURVEY.md §5.4), as a queryable DataFrame."""
    raw = result.chunks.groupBy("file_id").agg(
        F.sum(F.length("chunk")).alias("raw_chars")
    )
    enc = result.tokens.groupBy("file_id").agg(
        F.sum(F.length("token")).alias("encoded_chars")
    )
    return raw.join(enc, "file_id").select(
        "file_id",
        "raw_chars",
        "encoded_chars",
        F.round(F.col("encoded_chars") / F.col("raw_chars"), 4).alias("ratio"),
    )


@dataclass
class CorpusBuildResult:
    """Outputs of build_training_corpus (the LLM-pipeline composition)."""

    clean_docs: DataFrame  # doc_id, lang, source, split, text, n_tokens
    report: DataFrame      # per-lang survivorship funnel
    # per-lang ExactSubstr cut census (n_docs_cut, chars_cut); None unless
    # cut_repeated_spans=True
    cut_census: DataFrame | None = None


def build_training_corpus(
    spark: SparkSession,
    docs: DataFrame,
    span_tokens: int = 8,
    min_tokens: int = 20,
    max_tokens: int = 90,
    min_stop_pct: int = 5,
    min_span_survival_pct: int = 50,
    cut_repeated_spans: bool = False,
) -> CorpusBuildResult:
    """End-to-end pre-training corpus build — the user-level composition of
    the LLM-pipeline operators (operators/llm_pipeline.py), the way the
    reference composes chunk→hash→index→encode into deduplicate_file
    (lib/deduplicator.ex:22-57):

    0. (cut_repeated_spans=True) ExactSubstr CUT: certified repeated
       character spans (Lee et al. 2022; repeated_span_extract semantics)
       are removed from every document, and ALL later stages see the cut
       text — the oracle-checked twin is corpus_build_funnel_cut;
    1. span-level corpus dedup (span_survivorship): each doc is rewritten to
       its globally-first-occurring `span_tokens`-token spans;
    2. quality gates on the (possibly cut) doc (token-length band,
       stopword-ratio floor — integer arithmetic, no float compares) plus
       the span-survival floor (near-dup removal);
    3. deterministic md5-bucket train/val/test assignment (train_split_col).

    Returns the cleaned, labeled corpus (text = deduped reassembly, token
    count recomputed on it) and the per-language survivorship funnel. The
    span dedup costs three linear shuffles (span_survivorship: the min
    aggregate, the keeper join and the per-doc reassembly). The cut stage
    adds its own, the window-hash count and the per-document island window
    among them (exactsubstr_cut's docstring gives its full shape). The
    other stages are narrow; nothing touches the driver.

    Cost note (cut_repeated_spans=True): cut_census and the main clean_docs/
    report pipeline are SEPARATE actions over the same exactsubstr_cut
    lineage, so the stride-1 window explode + hash shuffle (the heaviest
    stage) is recomputed once per consumed output. That is deliberate: the
    cut relation is corpus-sized, and this engine's checkpoint discipline is
    to pin only TINY derived sets (hot shingles, cluster caches) — a
    production run that consumes several outputs should write clean_docs to
    a parquet sink once and read the outputs from there, not cache 100 TB
    in executor storage.
    """
    from sabd_deduplicator_spark.operators.llm_pipeline import (
        exactsubstr_cut,
        span_survivorship,
        train_split_col,
    )
    from sabd_deduplicator_spark.operators.text import STOPWORDS, with_tokens

    cut_census = None
    if cut_repeated_spans:
        docs = exactsubstr_cut(docs)
        cut_census = docs.groupBy("lang").agg(
            F.sum((F.col("n_cut_spans") > 0).cast("long")).alias("n_docs_cut"),
            F.sum("chars_cut").cast("long").alias("chars_cut"),
        )

    stop_arr = "array(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"
    d = with_tokens(docs).select(
        "doc_id",
        "lang",
        "source",
        "tokens",
        F.size("tokens").cast("long").alias("n_tok"),
        F.expr(
            f"CAST(size(filter(tokens, x -> array_contains({stop_arr}, x))) AS LONG)"
        ).alias("n_stop"),
    )
    surv = span_survivorship(
        d, span_tokens=span_tokens, carry=("lang", "source", "n_tok", "n_stop")
    )
    near_ok = 100 * F.col("n_kept") >= min_span_survival_pct * F.col("n_spans")
    len_ok = F.col("n_tok").between(min_tokens, max_tokens)
    stop_ok = 100 * F.col("n_stop") >= min_stop_pct * F.col("n_tok")
    clean = (
        surv.filter(near_ok & len_ok & stop_ok)
        .select(
            "doc_id",
            "lang",
            "source",
            train_split_col("doc_id").alias("split"),
            F.col("kept_text").alias("text"),
            F.size(F.split("kept_text", " ")).cast("long").alias("n_tokens"),
        )
    )
    report = surv.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(near_ok, 1).otherwise(0)).alias("n_after_near"),
        F.sum(F.when(near_ok & len_ok, 1).otherwise(0)).alias("n_after_len"),
        F.sum(F.when(near_ok & len_ok & stop_ok, 1).otherwise(0)).alias("n_final"),
        F.sum(F.when(near_ok & len_ok & stop_ok, F.col("n_tok")).otherwise(0)).alias(
            "tokens_final"
        ),
    )
    return CorpusBuildResult(
        clean_docs=clean, report=report, cut_census=cut_census
    )
