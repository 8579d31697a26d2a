"""Hash / crypto expressions (H1-H2, SURVEY.md §2.7) plus the signature
primitives used by the dedup operators (minhash / simhash).

H1/H2 are exact-parity with the reference's hashlib usage: Spark's
``sha2(col, 256)`` produces the same lowercase hex as
``hashlib.sha256(s.encode()).hexdigest()``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geosparql_etl_spark.functions.sql import sql_function

# --- reference parity ------------------------------------------------------


@sql_function
def sha256_id(col: str) -> str:
    """H1: SHA-256 hex of a string id (a SQL-text helper, see
    functions.sql).

    Ref: json-etl:72-74, segmentation-etl:148-149, mongo-etl:200-202.
    """
    return f"sha2(CAST({col} AS STRING), 256)"


def urn_sha256(col: Column) -> Column:
    """'urn:sha256:<hex>' identity used as the TTL subject (json-etl:99)."""
    return F.concat(F.lit("urn:sha256:"), sha256_id(col))


def read_file_hashes(spark, path: str, glob: str | None = None) -> DataFrame:
    """H2: file-content SHA-256 as a distributed scan.

    Replaces the reference's chunked-read hashing loop and its generated
    bash scanner (sha256_pipeline.py:52-58, sha256-csv-2019.py:100-141)
    with the binaryFile source + ``sha2(content, 256)`` — each file hashes
    inside one task, so a 100 TB corpus hashes at cluster width.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    return df.select(
        F.col("path"),
        F.element_at(F.split(F.col("path"), "/"), -1).alias("name"),
        F.sha2(F.col("content"), 256).alias("hash"),
        F.col("length"),
    )


# --- signature primitives for dedup (no reference counterpart; scale ops) --


def stable_long_hash(col: Column, seed: int = 0) -> Column:
    """Deterministic 64-bit-ish hash of a string via xxhash64.

    Engine-internal (dedup bucketing); NOT oracle-portable — oracle-checked
    queries use md5-derived hashes instead (see md5_long).
    """
    return F.xxhash64(col, F.lit(seed))


def md5_long(col: Column) -> Column:
    """First 60 bits of md5 as a non-negative long.

    Portable across Spark and DuckDB (both expose md5 hex), so minhash
    signatures built on it are oracle-verifiable:
        Spark:  conv(substr(md5(s), 1, 15), 16, 10)::long
        DuckDB: CAST(('0x' || substr(md5(s), 1, 15)) AS UBIGINT)
    15 hex chars = 60 bits < 2^63, so the value fits a signed long exactly.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
