"""Source connectors (SURVEY.md §2.B scans/sources row).

The reference reads local files as lazy byte streams
(/root/reference/lib/deduplicator/files.ex:45-62) and Postgres tables via
Ecto (/root/reference/lib/deduplicator/repo.ex:1-5). Spark-first equivalents:

- parquet        primary columnar store (the driver's tables)
- binaryFile     whole-file binary ingestion (multimodal payloads, and the
                 direct analog of the reference's file input)
- text/json/csv  line-oriented ingestion
- jdbc           parity with the Postgres role (connection options passed
                 through; no driver bundled in this container — import-gated)

Fixed-size chunking of binary file content happens AFTER ingestion via the
same generator expression as the text chunker (operators/chunker.py) —
substring works on BinaryType in Spark, so chunking stays in codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_binary_files(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """Whole files as (path, modificationTime, length, content:binary)."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def chunk_binary_content(
    files: DataFrame, size: int, content_col: str = "content"
) -> DataFrame:
    """(path, content) → (path, line, chunk:binary): the reference's
    Files.read(filename, bytes) as a distributed scan. Empty input needs its
    own guard (Spark sequence(0,-1) is descending, not empty). A binary
    substring indexes bytes directly, so the positional form is linear here,
    unlike a string substring, which counts characters from the first byte."""
    if size <= 0:
        raise ValueError("chunk size must be positive")
    arr = F.expr(
        f"CASE WHEN {content_col} IS NULL OR length({content_col}) = 0 THEN array() "
        f"ELSE transform(sequence(0, cast(ceil(length({content_col}) / {size}.0) AS INT) - 1), "
        f"i -> substring({content_col}, i * {size} + 1, {size})) END"
    )
    return files.select(
        "path", F.posexplode(arr).alias("line", "chunk")
    ).withColumn("line", F.col("line").cast("long"))


def read_text_lines(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.text(path)


def read_jsonl(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    reader = spark.read
    if schema:
        reader = reader.schema(schema)
    return reader.json(path)


def read_csv(spark: SparkSession, path: str, schema: str | None = None, header: bool = True) -> DataFrame:
    reader = spark.read.option("header", str(header).lower())
    if schema:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_jdbc(
    spark: SparkSession, url: str, dbtable: str, **options: str
) -> DataFrame:
    """JDBC source — parity with the reference's Postgres catalog/index role.
    No JDBC driver ships in this container; callers on a real cluster pass
    the usual url/dbtable/partitionColumn options for parallel reads."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", dbtable)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()
