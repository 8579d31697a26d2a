"""json-etl pipeline: GeoJSON tissue-classification output -> GeoSPARQL TTL.

Reference: json-etl/geojson_to_geosparql_etl.py (entire file). The
imperative per-file loop becomes one plan:

    read.json -> posexplode(features) -> A1 argmax (map fold) ->
    J2 SNOMED map lookup -> G1 WKT expression ->
    A6 groupBy(file) ordered render -> K1 text sink

The plan is handed to Spark as SQL text (functions.sql): the source is
the read plus one ``selectExpr``, the render one ``selectExpr`` for the
feature blocks, one aggregation and one ``selectExpr`` for the
documents — a few analyses per run instead of a Column-API call (a
py4j round trip) per expression node and an analysis per
``withColumn``. The helpers (argmax,
WKT, image id, hash) are inlined by their SQL form.

Two stages: scan+map side (explode, argmax, SNOMED lookup in a map
literal, feature-block render; the higher-order functions run
interpreted, outside whole-stage codegen), then a single shuffle on
source_file for document assembly. At 100 TB the shuffle carries only
rendered feature blocks (strings), never raw geometry; the 10-entry
SNOMED dim is a literal, so it costs neither a shuffle nor a broadcast
job.

Output parity: byte-identical to the reference renderer given the same
timestamp (injected parameter; the reference stamps now() at
json-etl:83, which is the one nondeterministic field).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geosparql_etl_spark.functions.geometry import polygon_wkt
from geosparql_etl_spark.functions.hashing import sha256_id
from geosparql_etl_spark.functions.sql import sql_literal
from geosparql_etl_spark.functions.text import extract_image_id
from geosparql_etl_spark.operators.argmax import dominant_entry
from geosparql_etl_spark.operators.render import ordered_concat

# SNOMED tissue-class registry (json-etl:13-24) as engine data:
# class name -> SNOMED concept id (the URI tail; URI = sno: prefix + id).
SNOMED_CLASSES: dict[str, str] = {
    "400p-Acinar tissue": "73681006",
    "400p-Dysplastic epithelium": "61313004",
    "400p-Fibrosis": "112674009",
    "400p-Lymph Aggregates": "267190001",
    "400p-Necrosis": "6574001",
    "400p-Nerves": "88545005",
    "400p-Normal ductal epithelium": "27834005",
    "400p-Reactive": "11214006",
    "400p-Stroma": "128752000",
    "400p-Tumor": "108369006",
}

_PREFIX_HEADER = (
    "@prefix dc:   <http://purl.org/dc/terms/> .\n"
    "@prefix exif: <http://www.w3.org/2003/12/exif/ns#> .\n"
    "@prefix geo:  <http://www.opengis.net/ont/geosparql#> .\n"
    "@prefix hal:  <https://halcyon.is/ns/> .\n"
    "@prefix prov: <http://www.w3.org/ns/prov#> .\n"
    "@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .\n"
    "@prefix sno:  <http://snomed.info/id/> .\n"
    "@prefix so:   <https://schema.org/> .\n"
    "@prefix xsd:  <http://www.w3.org/2001/XMLSchema#> .\n"
    "\n"
)


def _measurement_blocks(measurements: str) -> str:
    """SQL text: nested measurement render (json-etl:158-174) — every
    prob_* entry whose class is in the SNOMED registry, in map-entry
    order, ','-joined."""
    snomed, prob_ = sql_literal(SNOMED_CLASSES), sql_literal("prob_")
    sid = f"element_at({snomed}, replace(__m.key, {prob_}, ''))"
    entries = (
        f"filter(map_entries({measurements}), "
        f"__m -> startswith(__m.key, {prob_}) AND {sid} IS NOT NULL)"
    )
    open_ = sql_literal(
        "\n                                             [ hal:classification  sno:"
    )
    prob = sql_literal(";\n                                               hal:hasProbability  \"")
    close = sql_literal("\"^^xsd:float\n                                             ]")
    block = f"concat({open_}, {sid}, {prob}, format_string('%.6f', __m.value), {close})"
    return f"array_join(transform({entries}, __m -> {block}), ',')"


def _feature_block(wkt: str, snomed_id: str, measurements: str) -> str:
    """SQL text: one rdfs:member block (json-etl:153-176)."""
    head = sql_literal(
        "        rdfs:member          [ a                   geo:Feature;\n"
        "                               geo:hasGeometry     [ geo:asWKT  \""
    )
    cls = sql_literal(
        "\"^^geo:wktLiteral ];\n"
        "                               hal:classification  sno:"
    )
    meas = sql_literal(";\n                               hal:measurement     ")
    tail = sql_literal("\n                             ]")
    return (
        f"concat({head}, {wkt}, {cls}, {snomed_id}, {meas}, "
        f"{_measurement_blocks(measurements)}, {tail})"
    )


def _blocks(features: DataFrame) -> DataFrame:
    """Per feature: its member block, NULL when the feature does not
    qualify. J2 keeps inner-join meaning — a feature whose dominant class
    is absent (or outside the registry) has no snomed_id and renders no
    block; G1 renders only for features that have one."""
    snomed_id = (
        f"element_at({sql_literal(SNOMED_CLASSES)}, "
        f"{dominant_entry.sql('measurements')}.`class`)"
    )
    wkt = f"CASE WHEN snomed_id IS NOT NULL THEN {polygon_wkt.sql('coordinates')} END"
    block = _feature_block("wkt", "snomed_id", "measurements")
    return features.selectExpr(
        "source_file",
        "feature_idx",
        f"{snomed_id} AS snomed_id",
        f"{wkt} AS wkt",
        f"CASE WHEN wkt IS NOT NULL THEN {block} END AS block",
    )


def _documents(bodies: DataFrame, timestamp: str) -> DataFrame:
    """One TTL document per source file from its assembled members."""
    body = ", ".join([
        sql_literal(_PREFIX_HEADER + "<urn:sha256:"),
        "image_hash",
        sql_literal(">\n        a            so:ImageObject;\n        dc:identifier \""),
        "image_id",
        sql_literal(
            "\" ;\n        exif:height  \"40000\"^^xsd:int;\n"
            "        exif:width   \"40000\"^^xsd:int .\n\n"
            "<>      a                    geo:FeatureCollection;\n"
            "        dc:creator           \"http://orcid.org/0000-0003-4165-4062\";\n"
            "        dc:date              \""
            + timestamp
            + "\"^^xsd:dateTime;\n"
            "        dc:description       \"Raj's 10-class classification results "
            "produced via wsinfer and Tammy's PyTorch model for "
        ),
        "image_id",
        sql_literal(
            "\";\n"
            "        dc:title             \"tissue-classification-predictions\";\n"
            "        prov:wasGeneratedBy  [ a                       prov:Activity;\n"
            "                               prov:used               <urn:sha256:"
        ),
        "image_hash",
        sql_literal(">;\n                             ];\n"),
        "members",
        sql_literal(" .\n"),
    ])
    geojson_ext = sql_literal(r"\.geojson$")
    return bodies.selectExpr(
        "source_file",
        f"regexp_replace(source_file, {geojson_ext}, '.ttl') AS file_name",
        f"{extract_image_id.sql('source_file')} AS image_id",
        f"{sha256_id.sql('image_id')} AS image_hash",
        f"concat({body}) AS body",
    )


def render_ttl_documents(features: DataFrame, timestamp: str) -> DataFrame:
    """features (GEOJSON_FEATURES_ROWS shape) -> (source_file, file_name,
    image_id, image_hash, body) — one TTL document per source file.

    Three analyzed steps: the per-feature blocks (one ``selectExpr``),
    the ordered assembly (one aggregation, one shuffle on source_file)
    and the document text (one ``selectExpr``). Every input file yields
    a document, even with zero qualifying features (json-etl writes the
    header + empty collection either way): its rows carry NULL blocks,
    which the assembly's array_join skips.

    ``timestamp`` is the injected ISO-8601 'Z' string (determinism policy,
    SURVEY.md §7).
    """
    bodies = _blocks(features).groupBy("source_file").agg(
        ordered_concat(F.col("feature_idx"), F.col("block"), ";\n").alias("members")
    )
    return _documents(bodies, timestamp)


def run(
    spark,
    input_dir: str,
    output_dir: str,
    timestamp: str,
    collect_metrics: bool = False,
    ledger_path: str | None = None,
) -> DataFrame | tuple[DataFrame, dict]:
    """Full pipeline: directory scan -> rendered docs -> exact-name sink.

    With ``collect_metrics=True`` also returns the run's in-flight
    metrics {n_documents, total_bytes} gathered via an Observation —
    the A2 status-counting channel without a second pass over the data
    (the reference folds per-file result tuples: json-etl:231-245).

    With ``ledger_path`` the scan runs through the per-file error
    channel: malformed / non-FeatureCollection inputs are recorded as
    FAILED with an error string and completed files as completed —
    parity with the reference's per-file try/except + result tuples
    (json-etl:195-245) — and files already in the ledger are skipped.
    """
    from pyspark.sql import Observation

    from geosparql_etl_spark.sinks.ttl import (
        write_documents_exact,
        write_documents_exact_df,
    )
    from geosparql_etl_spark.sources.geojson import (
        read_geojson_features,
        read_geojson_features_with_errors,
    )

    errors = None
    if ledger_path:
        from geosparql_etl_spark.operators.ledger import (
            filter_pending,
            read_ledger,
        )

        feats, errors = read_geojson_features_with_errors(spark, input_dir)
        ledger = read_ledger(spark, ledger_path)
        feats = filter_pending(feats, ledger, "source_file")
        errors = filter_pending(errors, ledger, "id")
    else:
        feats = read_geojson_features(spark, input_dir)
    docs = render_ttl_documents(feats, timestamp)
    def _append_ledger_rows() -> None:
        if not ledger_path:
            return
        from geosparql_etl_spark.operators.ledger import (
            append_ledger,
            record_failures,
        )

        done = docs.select(
            F.col("source_file").alias("id"),
            F.lit("completed").alias("status"),
            F.lit(None).cast("string").alias("error"),
            F.current_timestamp().alias("ts"),
        ).dropDuplicates(["id"])
        append_ledger(done, ledger_path)
        record_failures(errors, ledger_path)

    if not collect_metrics:
        write_documents_exact(docs, output_dir, compress=False)
        _append_ledger_rows()
        return docs
    # lazy writer stage + Observation: a single noop materialization
    # performs the writes AND surfaces the metrics (RDD foreachPartition
    # would never fire the SQL listener the Observation depends on).
    written = write_documents_exact_df(docs, output_dir, compress=False)
    obs = Observation("json_etl")
    observed = written.observe(
        obs,
        F.count(F.lit(1)).alias("n_documents"),
        F.sum("n_bytes").alias("total_bytes"),
    )
    observed.write.format("noop").mode("overwrite").save()
    _append_ledger_rows()
    return docs, obs.get
