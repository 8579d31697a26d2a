"""json-etl pipeline: GeoJSON tissue-classification output -> GeoSPARQL TTL.

Reference: json-etl/geojson_to_geosparql_etl.py (entire file). The
imperative per-file loop becomes one DataFrame chain:

    read.json -> posexplode(features) -> A1 argmax (map fold) ->
    J2 SNOMED map lookup -> G1 WKT expression ->
    A6 groupBy(file) ordered render -> K1 text sink

Two stages: scan+map side (explode, argmax, SNOMED lookup in a map
literal, feature-block render — all inside one whole-stage-codegen
span), then a single shuffle on source_file for document assembly. At
100 TB the shuffle carries only rendered feature blocks (strings),
never raw geometry; the 10-entry SNOMED dim is a literal, so it costs
neither a shuffle nor a broadcast job.

Output parity: byte-identical to the reference renderer given the same
timestamp (injected parameter; the reference stamps now() at
json-etl:83, which is the one nondeterministic field).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geosparql_etl_spark.functions.geometry import polygon_wkt
from geosparql_etl_spark.functions.hashing import sha256_id
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


def _snomed_map_lit() -> Column:
    """Literal map class_name -> snomed id: the J2 dimension lookup and
    the per-row measurement sub-render (map-entry iteration can't join;
    the dim is 10 entries)."""
    kv: list[Column] = []
    for cls, sid in SNOMED_CLASSES.items():
        kv.append(F.lit(cls))
        kv.append(F.lit(sid))
    return F.create_map(*kv)


def _measurement_blocks(measurements: Column) -> Column:
    """Nested measurement render (json-etl:158-174): every prob_* entry
    whose class is in the SNOMED registry, in map-entry order, ','-joined."""
    m = _snomed_map_lit()
    entries = F.filter(
        F.map_entries(measurements),
        lambda e: e["key"].startswith("prob_")
        & F.element_at(m, F.replace(e["key"], F.lit("prob_"), F.lit(""))).isNotNull(),
    )
    blocks = F.transform(
        entries,
        lambda e: F.concat(
            F.lit(
                "\n                                             [ hal:classification  sno:"
            ),
            F.element_at(m, F.replace(e["key"], F.lit("prob_"), F.lit(""))),
            F.lit(
                ";\n                                               hal:hasProbability  \""
            ),
            F.format_string("%.6f", e["value"]),
            F.lit(
                "\"^^xsd:float\n                                             ]"
            ),
        ),
    )
    return F.array_join(blocks, ",")


def _feature_block(wkt: Column, snomed_id: Column, measurements: Column) -> Column:
    """One rdfs:member block (json-etl:153-176)."""
    return F.concat(
        F.lit(
            "        rdfs:member          [ a                   geo:Feature;\n"
            "                               geo:hasGeometry     [ geo:asWKT  \""
        ),
        wkt,
        F.lit(
            "\"^^geo:wktLiteral ];\n"
            "                               hal:classification  sno:"
        ),
        snomed_id,
        F.lit(
            ";\n                               hal:measurement     "
        ),
        _measurement_blocks(measurements),
        F.lit("\n                             ]"),
    )


def render_ttl_documents(features: DataFrame, timestamp: str) -> DataFrame:
    """features (GEOJSON_FEATURES_ROWS shape) -> (source_file, file_name,
    image_id, image_hash, body) — one TTL document per source file.

    ``timestamp`` is the injected ISO-8601 'Z' string (determinism policy,
    SURVEY.md §7).
    """
    dom = dominant_entry(F.col("measurements")).alias("dom")
    qualified = (
        features.select("source_file", "feature_idx", "coordinates", "measurements", dom)
        # J2: inner-join semantics — a feature whose dominant class is
        # absent (or outside the registry) yields no member block
        .withColumn("snomed_id", F.element_at(_snomed_map_lit(), F.col("dom.class")))
        .where(F.col("snomed_id").isNotNull())
        .withColumn("wkt", polygon_wkt(F.col("coordinates")))  # G1
        .where(F.col("wkt").isNotNull())
        .withColumn(
            "block",
            _feature_block(F.col("wkt"), F.col("snomed_id"), F.col("measurements")),
        )
    )

    bodies = qualified.groupBy("source_file").agg(
        ordered_concat(F.col("feature_idx"), F.col("block"), ";\n").alias("members")
    )

    # every input file yields a document, even with zero qualifying
    # features (json-etl writes the header + empty collection either way)
    files = features.select("source_file").dropDuplicates()
    docs = files.join(bodies, "source_file", "left").withColumn(
        "members", F.coalesce(F.col("members"), F.lit(""))
    )

    image_id = extract_image_id(F.col("source_file"))
    image_hash = sha256_id(image_id)

    body = F.concat(
        F.lit(_PREFIX_HEADER),
        F.lit("<urn:sha256:"),
        image_hash,
        F.lit(
            ">\n        a            so:ImageObject;\n        dc:identifier \""
        ),
        image_id,
        F.lit(
            "\" ;\n        exif:height  \"40000\"^^xsd:int;\n"
            "        exif:width   \"40000\"^^xsd:int .\n\n"
        ),
        F.lit(
            "<>      a                    geo:FeatureCollection;\n"
            "        dc:creator           \"http://orcid.org/0000-0003-4165-4062\";\n"
            "        dc:date              \""
        ),
        F.lit(timestamp),
        F.lit(
            "\"^^xsd:dateTime;\n"
            "        dc:description       \"Raj's 10-class classification results "
            "produced via wsinfer and Tammy's PyTorch model for "
        ),
        image_id,
        F.lit(
            "\";\n"
            "        dc:title             \"tissue-classification-predictions\";\n"
            "        prov:wasGeneratedBy  [ a                       prov:Activity;\n"
            "                               prov:used               <urn:sha256:"
        ),
        image_hash,
        F.lit(">;\n                             ];\n"),
        F.col("members"),
        F.lit(" .\n"),
    )

    return docs.select(
        "source_file",
        F.regexp_replace(F.col("source_file"), r"\.geojson$", ".ttl").alias("file_name"),
        image_id.alias("image_id"),
        image_hash.alias("image_hash"),
        body.alias("body"),
    )


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
