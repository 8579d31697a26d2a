"""hash-update pipeline family: post-hoc TTL enrichment / rewrite.

Reference: sha256-hash/*.py — read TTL(.gz) docs, look up the slide's
real file hash, rewrite `<urn:sha256|md5:...>` URNs in place, optionally
tag `hal:missing true` when no hash exists; plus the loinc line filter
(remove_loinc_xargs.sh). The two-part codegen pipeline
(sha256-csv-2019.md) collapses into: binaryFile scan + sha2 (H2) ->
broadcast join (J3) -> regexp rewrite (T5/T6) -> versioned snapshot (K3).

All variants are one-shuffle-free plans: docs stream through a map-only
transform with the hash table broadcast. Idempotent: re-running on a
rewritten snapshot yields identical bytes (the regexes rewrite a correct
hash to itself), which is the reference's convergence property
(update_hashes.py:139-141).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geosparql_etl_spark.functions.sql import sql_literal
from geosparql_etl_spark.functions.text import (
    extract_slide_id,
    extract_urn_hash,
    mark_missing_hash,
    replace_urn_hash,
)
from geosparql_etl_spark.operators.enrich import enrich_with_table


def update_hashes_by_slide_id(
    ttl_docs: DataFrame, slide_hashes: DataFrame
) -> DataFrame:
    """update_hashes.py variant: the join key is the hal:slideId literal
    extracted from the document text (T4); docs with no slideId or no
    matching hash pass through unchanged with a status column.

    Two SQL projections (keys, then rewrite + status) around the
    broadcast enrichment join."""
    docs = ttl_docs.selectExpr(
        "path",
        "text",
        f"{extract_slide_id.sql('text')} AS slide",
        f"{extract_urn_hash.sql('text')} AS old_hash",
    )
    enriched = enrich_with_table(docs, slide_hashes, "slide", "hash", "hash_missing")
    new_text = (
        "CASE WHEN hash IS NOT NULL AND old_hash IS NOT NULL "
        f"THEN {replace_urn_hash.sql('text', 'hash')} ELSE text END"
    )
    status = (
        "CASE WHEN slide IS NULL THEN 'no_slide_id' "
        "WHEN old_hash IS NULL THEN 'no_urn' "
        "WHEN hash IS NULL THEN 'hash_missing' "
        "WHEN old_hash = hash THEN 'already_correct' "
        "ELSE 'updated' END"
    )
    return enriched.selectExpr(
        "path", f"{new_text} AS text", "slide", "old_hash", "hash", f"{status} AS status"
    )


def update_hashes_by_folder(
    ttl_docs: DataFrame, folder_hashes: DataFrame, mark_missing: bool = False
) -> DataFrame:
    """update_ttl_gz_from_json.py / sha256-json-paad.py variant: the join
    key is the parent folder (slide) name derived from the path; docs
    whose folder has no hash either skip (default) or get the
    `hal:missing true` tag (sha256-json-paad.py:64-71)."""
    docs = ttl_docs.withColumn("slide", F.expr("element_at(split(path, '/'), -2)"))
    enriched = enrich_with_table(docs, folder_hashes, "slide", "hash", "hash_missing")
    if mark_missing:
        new_text = mark_missing_hash.sql("text", "hash")
    else:
        new_text = (
            f"CASE WHEN hash IS NOT NULL THEN {replace_urn_hash.sql('text', 'hash')} ELSE text END"
        )
    urn = sql_literal("urn:(sha256|md5):[0-9a-fA-F]+")
    status = (
        "CASE WHEN hash IS NULL THEN 'hash_missing' "
        f"WHEN NOT text RLIKE {urn} THEN 'no_urn' ELSE 'updated' END"
    )
    return enriched.selectExpr("path", f"{new_text} AS text", "slide", "hash", f"{status} AS status")


def remove_prefix_lines(
    ttl_lines: DataFrame, prefix_line: str = "@prefix loinc: <http://loinc.org/rdf/> ."
) -> DataFrame:
    """P12 (remove_loinc_xargs.sh): drop the exact line from every doc.
    Line-oriented: (path, line) in, filtered (path, line) out."""
    return ttl_lines.where(F.col("line") != prefix_line)
