"""segmentation-etl pipeline: nuclear segmentation patch CSVs -> TTL(.gz).

Reference: segmentation-etl/nuclear_segmentation_etl.py. The 4-level
directory traversal + nested Pool becomes ONE distributed CSV scan with
path-derived columns (sources/segmentation.py), and the per-file render
is a groupBy over (cancer_type, image_name, csv_name):

    read.csv(glob) + input_file_name regexes -> G2 WKT parse ->
    conditional property render -> A6 ordered group render -> K2 sink

The plan is handed to Spark as SQL text (functions.sql): one
``selectExpr`` for the source projection, one for the member blocks,
one aggregation and one ``selectExpr`` for the documents, with the
helpers (G2 WKT, patch metadata, hash) inlined by their SQL form.

Scale: a million patch CSVs become one job; no driver traversal, no
per-image Pool. The doc-assembly shuffle carries rendered strings only.

Parity: byte-identical to the reference renderer given the same
timestamp. NOTE the reference's timestamp here keeps '+00:00' (no 'Z'
normalization — segmentation-etl:178 differs from json-etl:83).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geosparql_etl_spark.functions.geometry import parse_polygon_string_wkt
from geosparql_etl_spark.functions.hashing import sha256_id
from geosparql_etl_spark.functions.sql import sql_literal, sql_nonempty
from geosparql_etl_spark.functions.text import patch_metadata
from geosparql_etl_spark.operators.render import ordered_concat

# SNOMED nucleoplasm concept id (segmentation-etl:44)
NUCLEAR_MATERIAL_SNOMED_ID = "68841002"

_CSV_EXT_RE = r"\.csv$"

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


def _feature_block(wkt: str, area: str, physical: str) -> str:
    """SQL text: one rdfs:member block (segmentation-etl:253-271): fixed
    1.0 probability, optional area/physicalSize when the CSV strings are
    non-empty."""
    head = sql_literal(
        "        rdfs:member          [ a                   geo:Feature;\n"
        "                               geo:hasGeometry     [ geo:asWKT  \""
    )
    fixed = sql_literal(
        "\"^^geo:wktLiteral ];\n"
        "                               hal:classification  sno:"
        + NUCLEAR_MATERIAL_SNOMED_ID
        + ";\n"
        "                               hal:measurement     "
        "[ hal:hasProbability  \"1.0\"^^xsd:float ]"
    )
    area_open = sql_literal(";\n                               hal:areaInPixels    \"")
    phys_open = sql_literal(";\n                               hal:physicalSize    \"")
    int_close, float_close = sql_literal('"^^xsd:int'), sql_literal('"^^xsd:float')
    with_area = (
        f"CASE WHEN {sql_nonempty(area)} THEN concat({area_open}, {area}, {int_close}) ELSE '' END"
    )
    with_phys = (
        f"CASE WHEN {sql_nonempty(physical)} "
        f"THEN concat({phys_open}, {physical}, {float_close}) ELSE '' END"
    )
    tail = sql_literal("\n                             ]")
    return f"concat({head}, {wkt}, {fixed}, {with_area}, {with_phys}, {tail})"


def _blocks(patches: DataFrame) -> DataFrame:
    """Per patch row: its member block, NULL when the polygon is
    missing or empty."""
    block = _feature_block("wkt", "AreaInPixels", "PhysicalSize")
    return patches.selectExpr(
        "cancer_type",
        "image_name",
        "csv_name",
        "row_seq",
        f"{parse_polygon_string_wkt.sql('Polygon')} AS wkt",
        f"CASE WHEN wkt IS NOT NULL THEN {block} END AS block",
    )


def _documents(bodies: DataFrame, timestamp: str) -> DataFrame:
    """One TTL document per patch CSV from its assembled members;
    output layout <image_name>/<cancer>_<csv stem>.ttl.gz
    (segmentation-etl:299-307)."""
    image_hash = sha256_id.sql("image_name")
    # parsed once per document, from its file name
    patch = patch_metadata.sql("csv_name")
    x, y = f"CAST({patch}.x AS STRING)", f"CAST({patch}.y AS STRING)"
    w, h = f"CAST({patch}.width AS STRING)", f"CAST({patch}.height AS STRING)"
    cancer_open, cancer_close = sql_literal('\n        hal:cancerType       "'), sql_literal('";')
    cancer = (
        f"CASE WHEN {sql_nonempty('cancer_type')} "
        f"THEN concat({cancer_open}, cancer_type, {cancer_close}) ELSE '' END"
    )
    body = ", ".join([
        sql_literal(_PREFIX_HEADER + "<urn:sha256:"),
        image_hash,
        sql_literal(">\n        a            so:ImageObject;\n        dc:identifier \""),
        "image_name",
        sql_literal(
            "\" .\n\n"
            "<>      a                    geo:FeatureCollection;\n"
            "        dc:creator           \"http://orcid.org/0000-0003-4165-4062\";\n"
            "        dc:date              \""
            + timestamp
            + "\"^^xsd:dateTime;\n"
            "        dc:description       \"Nuclear segmentation predictions for "
        ),
        "image_name",
        sql_literal(" - patch "),
        x,
        "'_'",
        y,
        "' ('",
        w,
        "'x'",
        h,
        sql_literal(
            ")\";\n"
            "        dc:publisher         <https://ror.org/01882y777> , <https://ror.org/05qghxh33>;\n"
            "        dc:references        \"https://doi.org/10.1038/s41597-020-0528-1\";\n"
            "        dc:title             \"nuclear-segmentation-predictions\";"
        ),
        cancer,
        sql_literal("\n        hal:patchX           \""),
        x,
        sql_literal("\"^^xsd:int;\n        hal:patchY           \""),
        y,
        sql_literal("\"^^xsd:int;\n        hal:patchWidth       \""),
        w,
        sql_literal("\"^^xsd:int;\n        hal:patchHeight      \""),
        h,
        sql_literal(
            "\"^^xsd:int;\n"
            "        prov:wasGeneratedBy  [ a                       prov:Activity;\n"
            "                               prov:used               <urn:sha256:"
        ),
        image_hash,
        sql_literal(">;\n                             ];\n"),
        "members",
        sql_literal(" .\n"),
    ])
    stem = f"regexp_replace(csv_name, {sql_literal(_CSV_EXT_RE)}, '')"
    return bodies.selectExpr(
        "cancer_type",
        "image_name",
        "csv_name",
        f"concat(image_name, '/', cancer_type, '_', {stem}, '.ttl.gz') AS file_name",
        f"concat({body}) AS body",
    )


def render_ttl_documents(patches: DataFrame, timestamp: str) -> DataFrame:
    """patches (sources.segmentation.read_patch_csvs shape) ->
    (cancer_type, image_name, csv_name, file_name, body): one TTL
    document per patch CSV.

    Three analyzed steps: the per-row blocks (one ``selectExpr``), the
    ordered assembly (one aggregation, one shuffle) and the document
    text (one ``selectExpr``). A CSV whose polygons are all missing or
    invalid still yields its header-only document: its rows carry NULL
    blocks, which the assembly's array_join skips.

    ``timestamp`` must be the '+00:00'-suffixed ISO string (the
    reference's isoformat here has no 'Z' normalization).
    """
    bodies = _blocks(patches).groupBy("cancer_type", "image_name", "csv_name").agg(
        ordered_concat(F.col("row_seq"), F.col("block"), ";\n").alias("members")
    )
    return _documents(bodies, timestamp)


def run(
    spark,
    input_base: str,
    output_dir: str,
    timestamp: str,
    compress: bool = True,
    existing: DataFrame | None = None,
    config=None,
) -> DataFrame:
    """Full pipeline with optional incremental skip (P10: anti-join
    against existing output names instead of per-file exists checks).
    ``config`` (EngineConfig) supplies the sink gzip level."""
    from geosparql_etl_spark.config import EngineConfig
    from geosparql_etl_spark.operators.ledger import skip_existing_outputs
    from geosparql_etl_spark.sinks.ttl import write_documents_exact
    from geosparql_etl_spark.sources.segmentation import read_patch_csvs

    cfg = config or EngineConfig()
    patches = read_patch_csvs(spark, input_base)
    docs = render_ttl_documents(patches, timestamp)
    if existing is not None:
        docs = skip_existing_outputs(docs, existing, "file_name")
    write_documents_exact(
        docs, output_dir, compress=compress, gzip_level=cfg.gzip_level
    )
    return docs
