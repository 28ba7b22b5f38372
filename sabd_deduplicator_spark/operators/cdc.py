"""Content-defined chunking (CDC) — the production upgrade of the
reference's fixed-size chunker (SURVEY.md §2.A #1,
/root/reference/lib/deduplicator/binary_utils.ex:14-24).

Fixed-size chunking is shift-fragile: inserting one byte near the start of a
file re-aligns EVERY subsequent chunk, so two near-identical inputs share ~no
chunks and the dedup store saves nothing. Production dedup engines (LBFS
Muthitacharoen SOSP'01; FastCDC Xia USENIX ATC'16) cut chunks where the
CONTENT says so: a rolling fingerprint of the last ``W`` bytes, with a cut
wherever the fingerprint satisfies a sparse predicate. Boundaries then depend
only on a local window, so an insertion disturbs at most the one or two
chunks that contain it and everything downstream re-synchronizes.

Two implementations, one semantics class:

- **Oracle-checked registry path** (`chunk_cdc`, below): the window
  fingerprint is ``md5`` of the trailing ``CDC_W``-char window and the cut
  predicate is a hex-prefix compare — pure SQL in both dialects, so the
  whole chunking is value-checked against DuckDB. The Spark side is a
  per-row array-expression program (window scan → ``filter`` → ``zip_with``
  over code-point ``slice``s → ``posexplode``), linear in the document's
  length, that runs entirely inside whole-stage codegen with ZERO
  shuffle — like the fixed chunker, embarrassingly parallel at 100 TB.
- **Production fast path** (`chunk_cdc_gear`): the classic Gear rolling hash
  (FastCDC's core: ``h = (h << 1 + gear[byte]) & mask``) with min/max chunk
  bounds, vectorized per document inside ``mapInPandas``. Gear state is
  sequential per document, so it cannot be a SQL window — but documents are
  independent, so the operator is still embarrassingly parallel. Equivalence
  class (cut-at-content, shift robustness, reassembly) is pinned against the
  SQL path's invariants in tests/test_cdc.py.

Why the md5-window rule is a real CDC: Rabin-style CDC's boundary decision is
exactly "fingerprint of the last W bytes ∈ sparse set"; md5 is just a
(slower, but engine-portable) fingerprint. Expected chunk length is
1/P(cut) = 32 chars here (geometric), matching FIXED_CMP below so the
fixed-vs-CDC census compares equal-granularity chunkers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sabd_deduplicator_spark.catalog import spread_if_narrow, table
from sabd_deduplicator_spark.operators.chunker import char_pieces
from sabd_deduplicator_spark.registry import query


def _docs_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents scan fanned to cluster width when the parquet layout is
    row-starved (catalog.spread_if_narrow). The sf0.1 corpus is ONE row
    group → every md5-window sweep below would otherwise run on a single
    core; at 100 TB (thousands of splits) this is a no-op with zero added
    Exchange. Measured: chunk_scan_cdc 6.0 → ~1 s at sf0.1."""
    return spread_if_narrow(table(spark, sf_dir, "documents"))


CDC_W = 8  # rolling-window width (chars)
CDC_CUT_HEX = "08"  # cut iff first 2 md5 hex chars < '08' → P = 8/256 = 1/32
FIXED_CMP = 32  # fixed-size comparison leg, = expected CDC chunk length


def _cdc_chunks_expr(text_col: str) -> F.Column:
    """Array of CDC chunks of ``text_col`` as a single codegen expression.

    A cut AFTER position i (1-based, i in [W, len-1]) iff the md5 hex of the
    trailing W-char window at i starts below CDC_CUT_HEX — lowercase fixed
    width hex compares identically as raw bytes in Spark and DuckDB (the
    same order-isomorphism the MinHash signatures rely on). Docs shorter
    than W+1 have no eligible cut and come back whole. Empty/NULL text
    yields zero chunks (the fixed chunker's convention, binary_utils.ex:16-17).

    Linear per document: the window sweep is one ``char_pieces`` scan (the
    md5 per window is the expensive part), and each chunk is a ``slice`` of
    the row's code-point array, built once — not a ``substring`` from the
    string's first byte per window and per chunk (O(len²)). A cut at
    i = len (the last window) only closes an empty trailing piece, which
    the final filter drops; no other piece is empty, as cuts strictly
    increase from W.

    The code points and the cut list are each needed more than once, so
    both are bound ONCE per row via a single-element-array lambda
    (``transform(array(struct(…)), b -> …)``): textual inlining would run
    the sweep once per use — measured 2× on chunk-heavy plans. A separate
    projection column would not survive Catalyst's CollapseProject; the
    lambda binding is a plain expression-level let.
    """
    cuts = F.filter(
        F.transform(
            char_pieces(text_col, CDC_W, windows=True),
            lambda w, k: F.when(
                F.substring(F.md5(w), 1, 2) < CDC_CUT_HEX, k + CDC_W
            ),
        ),
        lambda i: i.isNotNull(),
    )
    row = F.struct(char_pieces(text_col, 1).alias("cp"), cuts.alias("cuts"))
    return F.flatten(
        F.transform(
            F.array(row),
            lambda b: F.filter(
                F.zip_with(
                    F.concat(F.array(F.lit(0)), b["cuts"]),
                    F.concat(b["cuts"], F.array(F.size(b["cp"]))),
                    lambda s, e: F.array_join(F.slice(b["cp"], s + 1, e - s), ""),
                ),
                lambda piece: piece != "",
            ),
        )
    )


def chunk_cdc(df: DataFrame, text_col: str = "text", id_cols=("doc_id",)) -> DataFrame:
    """(id_cols…, line, chunk) content-defined chunking of ``text_col``.

    Zero-shuffle generator expression per input row — the chunk relation at
    100 TB is produced map-side and never materialized wider than one row's
    chunks at a time inside codegen."""
    return df.select(
        *id_cols, F.posexplode(_cdc_chunks_expr(text_col)).alias("line", "chunk")
    ).withColumn("line", F.col("line").cast("long"))


def cdc_cte(text_expr: str = "text", src: str = "documents") -> str:
    """DuckDB CTE producing the identical (doc_id, line, chunk) relation.

    Relational formulation of the same rule: explode eligible positions,
    keep cut positions, union the implicit start-0, then each chunk spans
    [start+1, next-start] via lead() per doc. range() is end-exclusive and
    empty when start >= stop, so the short-doc guard is implicit."""
    return (
        f"SELECT b.doc_id, CAST(row_number() OVER w - 1 AS BIGINT) AS line, "
        f"substring(b.txt, CAST(s.s + 1 AS INT), "
        f"CAST(coalesce(lead(s.s) OVER w, length(b.txt)) - s.s AS INT)) AS chunk "
        f"FROM ("
        f"  SELECT doc_id, 0 AS s FROM (SELECT doc_id, {text_expr} AS txt FROM {src}) "
        f"    WHERE txt IS NOT NULL AND length(txt) > 0 "
        f"  UNION ALL "
        f"  SELECT doc_id, i AS s FROM ("
        f"    SELECT doc_id, txt, unnest(range({CDC_W}, length(txt))) AS i "
        f"    FROM (SELECT doc_id, {text_expr} AS txt FROM {src})"
        f"  ) WHERE substring(md5(substring(txt, CAST(i - {CDC_W} + 1 AS INT), {CDC_W})), 1, 2) "
        f"  < '{CDC_CUT_HEX}'"
        f") s JOIN (SELECT doc_id, {text_expr} AS txt FROM {src} "
        f"  WHERE {text_expr} IS NOT NULL AND length({text_expr}) > 0) b USING (doc_id) "
        f"WINDOW w AS (PARTITION BY b.doc_id ORDER BY s.s)"
    )


@query(
    "chunk_scan_cdc",
    oracle=f"SELECT doc_id, line, chunk FROM ({cdc_cte()}) c",
)
def chunk_scan_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_cdc(_docs_spread(spark, sf_dir))


def _fixed_cte(text_expr: str, size: int) -> str:
    """Fixed-size chunk CTE over an arbitrary text expression (the
    comparison leg of the census; chunker.chunks_cte is pinned to
    text/size=16 by other oracles, so this local twin takes params)."""
    return (
        f"SELECT doc_id, substring(txt, CAST(i * {size} + 1 AS INT), {size}) AS chunk "
        f"FROM (SELECT doc_id, txt, "
        f"unnest(range(0, CAST(ceil(length(txt) / {size}.0) AS BIGINT))) AS i "
        f"FROM (SELECT doc_id, {text_expr} AS txt FROM documents) "
        f"WHERE txt IS NOT NULL) u"
    )


_TWIN = "'EDIT:' || text"  # 5-char prefix insertion: shifts every char by 5


def _census_sql(method: str, orig: str, twin: str) -> str:
    return (
        f"SELECT '{method}' AS method, "
        f"(SELECT count(*) FROM {orig}) AS n_chunks, "
        f"(SELECT count(DISTINCT md5(chunk)) FROM {orig}) AS n_distinct, "
        f"(SELECT count(*) FROM (SELECT DISTINCT md5(chunk) AS h FROM {orig}) o "
        f"  WHERE EXISTS (SELECT 1 FROM {twin} t WHERE md5(t.chunk) = o.h)) AS n_shared"
    )


@query(
    "dedup_cdc_vs_fixed",
    oracle=(
        f"WITH c_o AS ({cdc_cte()}), c_t AS ({cdc_cte(_TWIN)}), "
        f"f_o AS ({_fixed_cte('text', FIXED_CMP)}), "
        f"f_t AS ({_fixed_cte(_TWIN, FIXED_CMP)}) "
        f"SELECT method, CAST(n_chunks AS BIGINT) AS n_chunks, "
        f"CAST(n_distinct AS BIGINT) AS n_distinct, "
        f"CAST(n_shared AS BIGINT) AS n_shared, "
        f"round(CAST(n_shared AS DOUBLE) / nullif(n_distinct, 0), 6) AS shared_pct "
        f"FROM ({_census_sql('cdc', 'c_o', 'c_t')} "
        f"UNION ALL {_census_sql('fixed32', 'f_o', 'f_t')})"
    ),
)
def dedup_cdc_vs_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE CDC proof, as an oracle-checked census: chunk the corpus and an
    edited twin (every doc prefixed with 5 chars, shifting all content), and
    count how many distinct chunks the dedup store can reuse across the two
    versions. Fixed-size chunking re-aligns everything → n_shared ≈ 0; CDC
    boundaries re-synchronize within one window → most chunks shared. This
    is why incremental-backup / corpus-versioning dedup at 100 TB must be
    content-defined (LBFS SOSP'01 §3; reference anchor: the fixed chunker
    this upgrades, binary_utils.ex:14-24).

    Scale shape: each leg is a zero-shuffle chunk generator → distinct on a
    16-byte md5 (narrow shuffle rows) → one semi join per method; the
    scalar counts combine via one-row cross joins (no driver-side loop).
    """
    docs = _docs_spread(spark, sf_dir)
    twin = docs.select("doc_id", F.expr(f"{_TWIN}").alias("text"))

    def leg(method: str, orig_chunks: DataFrame, twin_chunks: DataFrame) -> DataFrame:
        # ONE pass per chunk generator (r11): the original four consumers
        # (count, distinct-count, and both semi-join sides) each re-ran the
        # per-position-md5 boundary scan — the most expensive map work in
        # the query, evaluated 4x per leg in the before-plan. A single
        # groupBy(h) carries the total count per distinct hash, so
        # n_chunks = sum(c), n_distinct = rows, and the semi join probes
        # the same pinned relation: each generator now runs exactly once.
        o_h = (
            orig_chunks.select(F.md5("chunk").alias("h"))
            .groupBy("h")
            .agg(F.count("*").alias("c"))
            .localCheckpoint(eager=False)
        )
        t_h = twin_chunks.select(F.md5("chunk").alias("h")).distinct()
        # coalesce: sum over an EMPTY corpus is NULL where count(*) was 0
        n_chunks = o_h.agg(
            F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_chunks")
        )
        n_distinct = o_h.agg(F.count("*").alias("n_distinct"))
        n_shared = o_h.join(t_h, "h", "left_semi").agg(F.count("*").alias("n_shared"))
        return (
            n_chunks.crossJoin(n_distinct)
            .crossJoin(n_shared)
            .select(
                F.lit(method).alias("method"),
                F.col("n_chunks").cast("long").alias("n_chunks"),
                F.col("n_distinct").cast("long").alias("n_distinct"),
                F.col("n_shared").cast("long").alias("n_shared"),
                F.round(
                    F.col("n_shared").cast("double")
                    / F.nullif(F.col("n_distinct"), F.lit(0)),
                    6,
                ).alias("shared_pct"),
            )
        )

    from sabd_deduplicator_spark.operators.chunker import chunk_fixed

    return leg("cdc", chunk_cdc(docs), chunk_cdc(twin)).unionByName(
        leg(
            "fixed32",
            chunk_fixed(docs, size=FIXED_CMP),
            chunk_fixed(twin, size=FIXED_CMP),
        )
    )


# --- production fast path: Gear rolling hash (FastCDC) ----------------------

GEAR_MIN = 16  # min chunk bytes (cut candidates before this are suppressed)
GEAR_MAX = 256  # max chunk bytes (forced cut)
GEAR_MASK = ((1 << 6) - 1) << 58  # 6 high bits → expected 64-byte chunks
GEAR_SCHEMA = "doc_id bigint, line bigint, chunk binary, n_bytes bigint"


def _gear_table():
    """256 uint64 gear values from md5 — the same md5-as-shared-randomness
    coin as every other deterministic construction in this package, so the
    table is identical on every executor with nothing shipped."""
    import hashlib

    import numpy as np

    return np.array(
        [
            int(hashlib.md5(f"gear|{b}".encode()).hexdigest()[:16], 16)
            for b in range(256)
        ],
        dtype=np.uint64,
    )


def _gear_cut_points(data: bytes, gear) -> list[int]:
    """Cut positions (byte index AFTER which to cut) under Gear-CDC with
    min/max bounds.

    Gear's left-shift-by-1 update ``h = (h << 1) + G[b]`` means byte ``j``
    contributes ``G[b_j] << (i - j)`` to ``h_i`` and vanishes after 64
    positions — so ``h`` over the whole doc is exactly 64 shifted adds of
    the gear-mapped byte array, fully vectorized in numpy (no per-byte
    Python loop). Only the sparse candidate list (~n/64) is walked in
    Python to impose min/max — at 100 TB this per-doc walk is the cheap
    part; a JVM/numba kernel would drop in here unchanged."""
    import numpy as np

    n = len(data)
    if n == 0:
        return []
    g = gear[np.frombuffer(data, dtype=np.uint8)]
    h = np.zeros(n, dtype=np.uint64)
    for k in range(min(64, n)):
        # byte i-k contributes G[b] << k to h_i
        h[k:] += g[: n - k] << np.uint64(k)
    cand = np.nonzero((h & np.uint64(GEAR_MASK)) == 0)[0] + 1  # cut AFTER byte i
    cuts: list[int] = []
    last = 0
    ci = 0
    m = len(cand)
    while True:
        nxt_forced = last + GEAR_MAX
        while ci < m and cand[ci] < last + GEAR_MIN:
            ci += 1
        if ci < m and cand[ci] <= nxt_forced and cand[ci] < n:
            last = int(cand[ci])
        elif nxt_forced < n:
            last = nxt_forced
        else:
            break
        cuts.append(last)
    return cuts


def chunk_cdc_gear(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, line, chunk: binary, n_bytes) Gear-CDC over the UTF-8 bytes
    of ``text_col`` — the FastCDC-style production path (Xia ATC'16): byte
    oriented, min/max bounded, rolling-hash boundaries. Sequential gear
    state cannot be a SQL window, but documents are independent, so this is
    one Arrow-batched mapInPandas with zero shuffle — the same 100-TB shape
    as the expression chunkers. The SQL path (`chunk_cdc`) is the
    oracle-checked semantics twin; equivalence-class invariants (reassembly,
    bounds, shift robustness) are pinned in tests/test_cdc.py."""
    from collections.abc import Iterator

    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        gear = _gear_table()
        for pdf in batches:
            ids, lines, chunks, sizes = [], [], [], []
            for doc_id, txt in zip(pdf["doc_id"], pdf[text_col]):
                if txt is None:
                    continue
                data = str(txt).encode("utf-8")
                if not data:
                    continue
                bounds = [0, *_gear_cut_points(data, gear), len(data)]
                for line, (s, e) in enumerate(zip(bounds, bounds[1:])):
                    ids.append(doc_id)
                    lines.append(line)
                    chunks.append(data[s:e])
                    sizes.append(e - s)
            yield pd.DataFrame(
                {"doc_id": ids, "line": lines, "chunk": chunks, "n_bytes": sizes}
            )

    return df.select("doc_id", text_col).mapInPandas(run, schema=GEAR_SCHEMA)


# --- CDC chunks through the reference's encode/recover pipeline -------------


@query(
    "cdc_encode_roundtrip",
    oracle=f"SELECT doc_id, line, chunk FROM ({cdc_cte()}) c",
)
def cdc_encode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's global pointer-encode → decode pipeline
    (deduplicator.ex:22-57, generalized in operators/encode.py) run over
    CONTENT-DEFINED chunks instead of fixed ones — proving the encode
    grammar is chunker-agnostic: any (doc_id, line, chunk) relation
    round-trips. The oracle is simply the CDC chunk relation itself,
    because encode∘decode must be the identity (same oracle shape as
    roundtrip_recovery_global). Fixed overflow-proof widths (vs the
    auto-sizing the API test exercises) keep this a ZERO-scalar-job plan;
    the token stream is localCheckpointed before decode — the honest
    production shape (the encoded artifact IS materialized storage, and
    decode reads it back) and it stops the decode's literal/pointer
    branches from re-running the whole chunk+encode tree twice."""
    from sabd_deduplicator_spark.operators.encode import (
        decode_tokens_global,
        encode_chunks_global,
    )

    # Pin the chunk relation (r11): encode_chunks_global consumes it TWICE
    # (the per-row hashed side and build_hash_links' aggregate side —
    # different subtrees, so runtime exchange reuse cannot fire) and the
    # CDC per-position-md5 boundary scan is the dominant map work; one
    # materialization halves it (A/B: faster in 3/3 quiet interleaved
    # pairs). Production shape: the chunk relation IS the stored artifact
    # an encode reads. Cluster caveat (ADVICE r11): localCheckpoint stores
    # to executor-local (non-reliable) storage, so an executor loss makes
    # the query unrecoverable — acceptable for a recomputable report in
    # local mode; a distributed deployment would write the chunk artifact
    # to reliable storage (the production shape above) instead of pinning.
    chunks = chunk_cdc(_docs_spread(spark, sf_dir)).localCheckpoint(eager=False)
    tokens = encode_chunks_global(
        chunks, file_width=12, pointer_width=9
    ).localCheckpoint(eager=False)
    return decode_tokens_global(tokens, file_width=12, pointer_width=9)


def _enc_stats_duck(method: str, rel: str) -> str:
    """One method's encode-cost row: stored chars under the global pointer
    grammar, WITHOUT re-deriving the first-occurrence choice — every
    distinct hash stores exactly one literal '0'||chunk and each repeat
    occurrence stores one pointer '1' + fw + pw digits, so the totals
    depend only on (count, distinct, widths)."""
    return (
        f"SELECT '{method}' AS method, "
        f"(SELECT count(*) FROM {rel}) AS n_chunks, "
        f"(SELECT count(DISTINCT md5(chunk)) FROM {rel}) AS n_distinct, "
        f"(SELECT coalesce(CAST(sum(length(chunk)) AS BIGINT), 0) FROM {rel}) AS raw_chars, "
        f"(SELECT coalesce(CAST(sum(1 + l) AS BIGINT), 0) FROM ("
        f"  SELECT min(length(chunk)) AS l FROM {rel} GROUP BY md5(chunk))) AS literal_chars, "
        f"(SELECT coalesce(length(CAST(max(doc_id) AS VARCHAR)), 1) FROM {rel}) AS fw, "
        f"(SELECT coalesce(length(CAST(max(line) AS VARCHAR)), 1) FROM {rel}) AS pw"
    )


_ENC_STATS_FINAL = (
    "SELECT method, n_chunks, n_distinct, raw_chars, "
    "literal_chars + (n_chunks - n_distinct) * (1 + fw + pw) AS stored_chars, "
    "round(CAST(literal_chars + (n_chunks - n_distinct) * (1 + fw + pw) AS DOUBLE) "
    "/ nullif(raw_chars, 0), 6) AS stored_ratio"
)


@query(
    "dedup_cdc_encode_stats",
    oracle=(
        f"WITH c_o AS ({cdc_cte()}), "
        f"f_o AS (SELECT doc_id, CAST(i AS BIGINT) AS line, chunk FROM ("
        f"  SELECT doc_id, substring(txt, CAST(i * {FIXED_CMP} + 1 AS INT), {FIXED_CMP}) AS chunk, i "
        f"  FROM (SELECT doc_id, txt, unnest(range(0, CAST(ceil(length(txt) / {FIXED_CMP}.0) AS BIGINT))) AS i "
        f"  FROM (SELECT doc_id, text AS txt FROM documents) WHERE txt IS NOT NULL) u)) "
        f"{_ENC_STATS_FINAL} FROM ("
        f"{_enc_stats_duck('cdc', 'c_o')} UNION ALL {_enc_stats_duck('fixed32', 'f_o')})"
    ),
)
def dedup_cdc_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage bill of the reference's pointer encoding under each chunker:
    raw corpus chars vs stored chars (one literal per distinct chunk + one
    (1+fw+pw)-digit pointer per repeat). The census needs only
    (n_chunks, n_distinct, widths) — the first-occurrence CHOICE cancels
    out of the totals — so one groupBy(hash) followed by one global
    aggregate computes everything, no join against the hash index at all.
    Read with dedup_cdc_vs_fixed: CDC pays slightly more pointer overhead
    on a static corpus but keeps ~90% of chunks reusable across edits."""
    from sabd_deduplicator_spark.operators.chunker import chunk_fixed

    docs = _docs_spread(spark, sf_dir)

    def leg(method: str, chunks: DataFrame) -> DataFrame:
        # ONE pass per chunk generator (r11, same device as
        # dedup_cdc_vs_fixed): the former base×dist cross join evaluated the
        # generator twice (global agg + distinct agg) — the CDC leg's
        # per-position-md5 boundary scan is the dominant map work. A single
        # groupBy(h) carries everything both aggregates need: n_chunks =
        # sum(c), raw_chars = sum of per-hash length sums, widths from
        # per-hash maxima, and the distinct-side terms are row-count /
        # min-length over the SAME relation — so the pipeline is linear and
        # each generator runs exactly once.
        g = (
            chunks.select(
                F.md5("chunk").alias("h"),
                F.length("chunk").alias("l"),
                "doc_id",
                "line",
            )
            .groupBy("h")
            .agg(
                F.count("*").alias("c"),
                F.sum("l").alias("sl"),
                F.min("l").alias("ml"),
                F.max("doc_id").alias("md"),
                F.max("line").alias("mlin"),
            )
        )
        tot = g.agg(
            # coalesce: every sum/max over an EMPTY corpus is NULL
            F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_chunks"),
            F.count("*").alias("n_distinct"),
            F.coalesce(F.sum("sl"), F.lit(0)).cast("long").alias("raw_chars"),
            F.coalesce(F.sum(F.lit(1) + F.col("ml")), F.lit(0))
            .cast("long")
            .alias("literal_chars"),
            F.coalesce(F.length(F.max("md").cast("string")), F.lit(1)).alias(
                "fw"
            ),
            F.coalesce(F.length(F.max("mlin").cast("string")), F.lit(1)).alias(
                "pw"
            ),
        )
        stored = (
            F.col("literal_chars")
            + (F.col("n_chunks") - F.col("n_distinct")) * (1 + F.col("fw") + F.col("pw"))
        )
        return tot.select(
            F.lit(method).alias("method"),
            "n_chunks",
            "n_distinct",
            "raw_chars",
            stored.cast("long").alias("stored_chars"),
            F.round(
                stored.cast("double") / F.nullif(F.col("raw_chars"), F.lit(0)), 6
            ).alias("stored_ratio"),
        )

    return leg("cdc", chunk_cdc(docs)).unionByName(
        leg("fixed32", chunk_fixed(docs, size=FIXED_CMP))
    )


# --- chunk-length geometry ----------------------------------------------------

HIST_BUCKET = 8  # chars per histogram bucket
HIST_CAP = 7  # buckets 0..7; lengths > 56 collapse into the cap bucket


@query(
    "cdc_chunk_length_histogram",
    oracle=(
        f"WITH c_o AS ({cdc_cte()}), "
        f"f_o AS ({_fixed_cte('text', FIXED_CMP)}), "
        "u AS (SELECT 'cdc' AS method, "
        f"least(CAST(floor((length(chunk) - 1) / {HIST_BUCKET}) AS BIGINT), {HIST_CAP}) AS bucket "
        "FROM c_o UNION ALL SELECT 'fixed32', "
        f"least(CAST(floor((length(chunk) - 1) / {HIST_BUCKET}) AS BIGINT), {HIST_CAP}) "
        "FROM f_o), "
        "h AS (SELECT method, bucket, CAST(count(*) AS BIGINT) AS n_chunks "
        "  FROM u GROUP BY method, bucket), "
        "t AS (SELECT method, CAST(sum(n_chunks) AS BIGINT) AS total FROM h "
        "  GROUP BY method) "
        "SELECT h.method AS method, h.bucket AS bucket, h.n_chunks, "
        "round(CAST(h.n_chunks AS DOUBLE) / t.total, 6) AS pct "
        "FROM h JOIN t ON t.method = h.method"
    ),
)
def cdc_chunk_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-length geometry per chunker: CDC lengths follow the geometric
    distribution its cut probability implies (mean 1/P = 32, mass in every
    bucket), while fixed32 concentrates on exactly 32 plus a short-tail
    bucket of document remainders. The histogram is the go/no-go check on
    a CDC parameterization BEFORE re-chunking a 100-TB store: a skewed or
    truncated length profile means the window/predicate choice is wrong
    for the data (FastCDC §3.2's normalized-chunking discussion is this
    diagnostic, productized). One union of codegen chunk scans → one hash
    aggregate on (method, bucket) → per-method totals broadcast back."""
    from sabd_deduplicator_spark.operators.chunker import chunk_fixed

    docs = _docs_spread(spark, sf_dir)
    bucket = F.least(
        F.floor((F.length("chunk") - 1) / HIST_BUCKET).cast("long"),
        F.lit(HIST_CAP).cast("long"),
    )
    u = (
        chunk_cdc(docs)
        .select(F.lit("cdc").alias("method"), bucket.alias("bucket"))
        .unionByName(
            chunk_fixed(docs, size=FIXED_CMP).select(
                F.lit("fixed32").alias("method"), bucket.alias("bucket")
            )
        )
    )
    h = u.groupBy("method", "bucket").agg(F.count("*").alias("n_chunks"))
    t = h.groupBy("method").agg(F.sum("n_chunks").cast("long").alias("total"))
    return h.join(F.broadcast(t), "method").select(
        "method",
        "bucket",
        F.col("n_chunks").cast("long").alias("n_chunks"),
        F.round(F.col("n_chunks").cast("double") / F.col("total"), 6).alias("pct"),
    )
