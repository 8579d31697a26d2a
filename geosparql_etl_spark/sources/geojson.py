"""S1: GeoJSON FeatureCollection directory scan -> one row per feature.

Replaces the reference's glob + json.load + Pool(20) per-file loop
(json-etl/geojson_to_geosparql_etl.py:185-236) with a schema'd multiline
JSON scan; per-file identity comes from input_file_name(), feature order
from the feature's array index (posexplode) — both are what the
renderer keys on. The projection is two ``selectExpr`` steps.

Scale: spark.read.json splits across files (one task per file for
multiline documents); thousands of GeoJSON files parallelize to cluster
width with no driver involvement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from geosparql_etl_spark.schemas import GEOJSON_FEATURE_COLLECTION


# the file name (last path segment) of the row's input file
_SOURCE_FILE = "element_at(split(input_file_name(), '/'), -1)"


def _features(raw: DataFrame, source_file: str = "source_file") -> DataFrame:
    """Two ``selectExpr`` over ``raw``, ``source_file`` being its SQL
    text: posexplode_outer keeps a row per file (all NULL) even when the
    file has no features, then the feature's fields are pulled out."""
    return raw.selectExpr(
        f"{source_file} AS source_file",
        "posexplode_outer(features) AS (feature_idx, feature)",
    ).selectExpr(
        "source_file",
        "feature_idx",
        "feature.geometry.type AS geometry_type",
        "feature.geometry.coordinates AS coordinates",
        "feature.properties.measurements AS measurements",
    )


def read_geojson_features(spark: SparkSession, path: str) -> DataFrame:
    """Rows: source_file, feature_idx, geometry_type, coordinates,
    measurements (GEOJSON_FEATURES_ROWS shape)."""
    raw = (
        spark.read.schema(GEOJSON_FEATURE_COLLECTION)
        .option("multiLine", "true")
        .json(path)
    )
    return _features(raw, _SOURCE_FILE)


def read_geojson_features_with_errors(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """(features, errors): the scan plus a per-file error channel.

    The reference wraps each json.load in try/except and logs the bad file
    (json-etl/geojson_to_geosparql_etl.py:195-236); Spark's PERMISSIVE
    mode instead yields an all-null row for a malformed file — silent
    data loss unless surfaced. Here the corrupt record is captured
    (columnNameOfCorruptRecord) and classified:

      - JSON parse failure -> 'malformed JSON'
      - valid JSON that is not a FeatureCollection -> 'no features array'

    ``errors`` is (id=source_file, error), ready for
    ``operators.ledger.record_failures``. The scan stays one pass: both
    outputs project from the same cached raw frame (Spark disallows
    plans that reference ONLY the corrupt column, and the cache also
    avoids re-parsing every file twice at scale).
    """
    # fresh StructType: StructType.add MUTATES the receiver, which would
    # pollute the shared schema for every other reader
    schema = StructType(
        list(GEOJSON_FEATURE_COLLECTION.fields)
        + [StructField("_corrupt_record", StringType())]
    )
    raw = (
        spark.read.schema(schema)
        .option("multiLine", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        .withColumn("source_file", F.expr(_SOURCE_FILE))
        .cache()
    )
    errors = raw.where(
        F.col("_corrupt_record").isNotNull() | F.col("features").isNull()
    ).select(
        F.col("source_file").alias("id"),
        F.when(
            F.col("_corrupt_record").isNotNull(), F.lit("malformed JSON")
        ).otherwise(F.lit("no features array")).alias("error"),
    )
    good = raw.where(
        F.col("_corrupt_record").isNull() & F.col("features").isNotNull()
    ).drop("_corrupt_record")
    return _features(good), errors
