"""sabd_deduplicator_spark — the SABD-Deduplicator's chunk-level dedup on
PySpark, plus the LLM-data-pipeline jobs built on it.

The reference (Elixir/OTP + Postgres) implements content-addressed
chunk-level file deduplication: chunk -> hash -> first occurrence index ->
encoded output, plus small relational reports over that index. This package
expresses that flow, a persistent MinHash near-dup index and a cleaned
training-corpus build as Spark DataFrame plans, so Catalyst/Tungsten pick the
physical strategy and everything scales horizontally.

Layout:
    session.py     SparkSession builder (AQE on, sized to the host's CPUs and memory)
    catalog.py     loaders for the driver's parquet tables
    schemas.py     StructTypes for the dedup data model (files/chunks/hash_links)
    registry.py    query registry consumed by __spark_entry__.py
    operators/     dedup family, chunker, encode/recover, near-dup index,
                   corpus build, registered report queries
    functions/     scalar/array helpers (hashing, vector math, text metrics)
    sources/       readers (parquet/binary/jsonl) incl. multimodal plumbing
    streaming/     Structured Streaming twins of the stateful dedup fold
    plans/         plan-inspection helpers (.explain capture, shuffle count)
"""

__version__ = "0.1.0"
