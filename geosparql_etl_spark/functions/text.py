"""String / regex / formatting expressions (T1-T10, SURVEY.md §2.7).

Each mirrors a scalar the reference implements imperatively; all are
native Spark expressions. The ones the ETL pipelines call (T1, T2,
T4-T6) are defined once as SQL text (``functions.sql.sql_function``):
``f.sql("col")`` for SQL statements, ``f(col)`` for Column code.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from geosparql_etl_spark.functions.sql import sql_function, sql_literal

# T1: filename -> image id ---------------------------------------------------

_GEOJSON_EXT_RE = r"\.geojson$"
_DOT_RE = r"\."
_CSV_EXT_RE = r"\.csv$"


@sql_function
def extract_image_id(filename: str) -> str:
    """Text before the first '.' once a trailing '.geojson' is stripped;
    if there is no dot at all, the stripped name itself.

    Ref: json-etl/geojson_to_geosparql_etl.py:63-69.
    """
    stripped = f"regexp_replace({filename}, {sql_literal(_GEOJSON_EXT_RE)}, '')"
    return f"split({stripped}, {sql_literal(_DOT_RE)})[0]"


# T2: patch filename -> {x, y, width, height, base_name} with fallback ------


@sql_function
def patch_metadata(filename: str) -> str:
    """Parse 'X_Y_W_H_..." -features.csv' names; non-numeric or short names
    fall back to x=y=0, w=h=40000 (the reference's default assumption).

    Plain scalar text with no lambda, so it runs in whole-stage codegen,
    where the repeated split and casts are evaluated once per row
    (common subexpression elimination) and try_cast fails without an
    exception.

    Ref: segmentation-etl/nuclear_segmentation_etl.py:79-114.
    """
    name = f"regexp_replace({filename}, {sql_literal(_CSV_EXT_RE)}, '')"
    parts = f"split({name}, '_')"
    # get() not try_element_at(): TryElementAt breaks codegen under
    # expression splitting (see functions/geometry.py outer_ring note).
    x, y, w, h = (f"try_cast(get({parts}, {i}) AS INT)" for i in range(4))
    ok = f"size({parts}) >= 4 AND " + " AND ".join(f"{v} IS NOT NULL" for v in (x, y, w, h))
    return (
        f"named_struct('x', CASE WHEN {ok} THEN {x} ELSE 0 END, "
        f"'y', CASE WHEN {ok} THEN {y} ELSE 0 END, "
        f"'width', CASE WHEN {ok} THEN {w} ELSE 40000 END, "
        f"'height', CASE WHEN {ok} THEN {h} ELSE 40000 END, "
        f"'base_name', {name})"
    )


# T3: prefix strip / add -----------------------------------------------------


def strip_prefix(col: Column, prefix: str) -> Column:
    """Remove a literal prefix everywhere it occurs (reference uses
    str.replace, which is global: json-etl:55)."""
    return F.replace(col, F.lit(prefix), F.lit(""))


def cancer_type_from_dir(dirname: Column) -> Column:
    """'blca_polygon' -> 'blca' (the TTL cancerType value and the
    'blca_' filename prefix stem). Ref: segmentation-etl:384-385."""
    return F.replace(dirname, F.lit("_polygon"), F.lit(""))


# T4/T5/T6: TTL text extraction / substitution -------------------------------

SLIDE_ID_RE = r'hal:slideId\s+"(\d+)"'
URN_HASH_RE = r"<urn:(?:sha256|md5):([0-9a-fA-F]+)>"


@sql_function
def extract_slide_id(ttl_text: str) -> str:
    """T4. Ref: sha256-hash/update_hashes.py:49-58."""
    return f"nullif(regexp_extract({ttl_text}, {sql_literal(SLIDE_ID_RE)}, 1), '')"


@sql_function
def extract_urn_hash(ttl_text: str) -> str:
    """T4. Ref: sha256-hash/update_hashes.py:60-68."""
    return f"nullif(regexp_extract({ttl_text}, {sql_literal(URN_HASH_RE)}, 1), '')"


@sql_function
def replace_urn_hash(ttl_text: str, new_hash: str) -> str:
    """T5: substitute every sha256/md5 URN with the new sha256 URN
    (also migrates legacy md5 URNs).

    Ref: update_ttl_gz_from_json.py:61-74, sha256-json-paad.py:54-62.
    """
    urn = sql_literal(r"<urn:(?:sha256|md5):[0-9a-fA-F]+>")
    return f"regexp_replace({ttl_text}, {urn}, concat('<urn:sha256:', {new_hash}, '>'))"


@sql_function
def mark_missing_hash(ttl_text: str, hash_col: str) -> str:
    """T6: when no hash is available, tag the image object with
    'hal:missing true' instead of rewriting the URN.

    Ref: sha256-json-paad.py:64-71.
    """
    image_object = sql_literal(r"a\s+so:ImageObject\s*;")
    # a real newline: Java's regex replacement (regexp_replace) reads
    # a backslash-n as a literal "n", where the reference's re.sub
    # writes a line break
    tag = sql_literal('a so:ImageObject ;\n    hal:missing "true"^^xsd:boolean ;')
    return (
        f"CASE WHEN {hash_col} IS NULL THEN regexp_replace({ttl_text}, {image_object}, {tag}) "
        f"ELSE {replace_urn_hash.sql(ttl_text, hash_col)} END"
    )


# T7: fixed-width numeric formats --------------------------------------------


def batch_file_name(batch_id: Column) -> Column:
    """'batch_%06d.ttl.gz'. Ref: mongo-etl/mongodb_to_rdf.py:553."""
    return F.format_string("batch_%06d.ttl.gz", batch_id.cast("int"))


def prob_6f(value: Column) -> Column:
    """'%.6f' probability rendering. Ref: json-etl:171."""
    return F.format_string("%.6f", value)


# T8: ISO-8601 UTC timestamp with Z ------------------------------------------


def iso_utc(ts: Column) -> Column:
    """ISO-8601 with 'Z' suffix; microseconds kept when present, matching
    datetime.isoformat() (no microseconds -> seconds precision).

    Ref: json-etl:83, segmentation-etl:178. Engine policy: the timestamp
    is always an injected parameter so runs are deterministic (tests pin it).
    """
    base = F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss")
    micros = F.date_format(ts, "SSSSSS")
    return F.when(
        micros == "000000", F.concat(base, F.lit("Z"))
    ).otherwise(F.concat(base, F.lit("."), micros, F.lit("Z")))


# T9: archive-extension stripping ---------------------------------------------


def strip_tar_gz(name: Column) -> Column:
    """Ref: sha256-csv-2019.py:14-30."""
    return F.regexp_replace(name, r"\.(tar\.gz|svs|tgz)$", "")


# T10: JSON encoding -----------------------------------------------------------


def doc_to_json(struct_col: Column) -> Column:
    """Serialize a struct to JSON; explicit schema already coerced
    ObjectId/Decimal/datetime equivalents to string/double/timestamp,
    which subsumes the reference's recursive coercion
    (utils/serialization.py:11-91)."""
    return F.to_json(struct_col)
