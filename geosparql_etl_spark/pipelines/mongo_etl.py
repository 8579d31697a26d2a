"""mongo-etl pipeline: analysis x mark documents -> batched TTL.gz docs.

Reference: mongo-etl/mongodb_to_rdf.py (the flagship pipeline: J1 join +
W1 batching + checkpoint ledger + hash enrichment). The per-analysis
worker loop becomes one declarative plan:

    analyses -> P9 ledger anti-join -> P2 projection w/ defaults ->
    J4 slide-hash enrichment (dedup -> lookup -> broadcast join) ->
    J1 equi-join marks on (execution_id, imageid [, slide]) ->
    P3/P7/P8/G3 mark render -> W1 batch window (1000 marks) ->
    A6 per-(analysis, batch) ordered doc assembly -> K2 gzip sink

The reference pushes J1 into MongoDB's index per analysis (one query per
analysis, 20 workers); Spark instead shuffles both sides once on the
join key — at 4B marks that is the difference between 4M index scans
and one partitioned hash join. Batch docs then group WITHOUT a second
shuffle of mark blocks (window and groupBy share partitioning).

Determinism: the reference emits marks in Mongo cursor order; the engine
orders by mark _id (monotone ObjectIds ≈ insertion order) — documented
deviation that makes output reproducible (SURVEY.md §7 "What's hard").

Parity note: the header has NO timestamp field (unlike json/segmentation
pipelines), so rendered bytes are fully deterministic given inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geosparql_etl_spark.functions.geometry import denormalized_polygon_wkt, image_bbox_wkt
from geosparql_etl_spark.functions.hashing import sha256_id
from geosparql_etl_spark.functions.sql import sql_literal, sql_nonempty, sql_over
from geosparql_etl_spark.operators.batching import with_batch_id
from geosparql_etl_spark.operators.enrich import enrich_with_table
from geosparql_etl_spark.operators.ledger import filter_pending
from geosparql_etl_spark.operators.render import ordered_concat

BATCH_SIZE = 1000  # marks per output file (mongodb_to_rdf.py:31)

_PREFIXES = (
    "@prefix geo: <http://www.opengis.net/ont/geosparql#> .\n"
    "@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .\n"
    "@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .\n"
    "@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .\n"
    "@prefix snomed: <http://snomed.info/id/> .\n"
    "@prefix so:   <https://schema.org/> .\n"
    "@prefix loinc: <http://loinc.org/rdf/> .\n"
    "@prefix hal: <https://halcyon.is/ns/> .\n"
)


def _project_analyses(analyses: DataFrame, enrich: bool) -> DataFrame:
    """P2: deep nested projection with the reference's fallback defaults
    (mongodb_to_rdf.py:268-301). Missing/invalid dims -> 40000; empty
    case_id -> imageid. With ``enrich`` each row carries the J4 lookup
    key (slide_key, NULL for no slide); without, the lookup's outputs
    (no hash, not missing)."""
    params = "analysis.algorithm_params"
    lookup = (
        ["nullif(slide, '') AS slide_key"]
        if enrich
        else ["CAST(NULL AS STRING) AS hash", "FALSE AS hash_missing"]
    )
    return analyses.selectExpr(
        "_id AS analysis_id",
        "coalesce(analysis.execution_id, 'unknown') AS exec_id",
        "image.imageid AS image_id",
        "coalesce(image.subject, '') AS subject_id",
        "coalesce(image.study, '') AS study",
        "coalesce(image.slide, '') AS slide",
        f"coalesce(try_cast({params}.image_width AS INT), 40000) AS image_width",
        f"coalesce(try_cast({params}.image_height AS INT), 40000) AS image_height",
        f"coalesce(nullif({params}.case_id, ''), image.imageid) AS case_id",
        *lookup,
    )


# mark-block text pieces (mongodb_to_rdf.py:415-455)
_MARK_OPEN = ' ;\n        geo:hasMember [\n            a geo:Feature ;\n            hal:markId "'
_NUCLEUS_OPEN = '\n            hal:nucleusType "'
_NUCLEUS_CLOSE = '" ;'
_NUCLEAR = "\n            hal:hasMaterialType snomed:68841002 ;  # Nuclear material"
_ANNOTATION_OPEN = "\n            hal:hasAnnotation <"
_ANNOTATION_CLOSE = "> ;  # Human-verified SNOMED code"
_WKT_OPEN = ' ;\n            geo:hasGeometry [\n                geo:asWKT "'
_WKT_CLOSE = '"^^geo:wktLiteral\n            ]\n        ]'


def _mark_block(wkt: str) -> str:
    """SQL text: one geo:hasMember block over a mark row (its _id,
    geometries, userUpdate and provenance columns); conditional lines
    render only when their source field is present/valid. P8: a
    nucleustype of >= 3 dot-separated parts is nuclear material; P7: the
    first annotation must be a SNOMED URI."""
    feature = "get(geometries.features, 0)"
    nucleustype = f"coalesce({feature}.properties.nucleustype, '')"
    dot = sql_literal(r"\.")
    is_nuclear = f"{sql_nonempty(nucleustype)} AND size(split({nucleustype}, {dot})) >= 3"
    ann0 = "get(userUpdate.mark.annotation, 0).annotationID"
    snomed_uri = sql_literal("http://snomed.info/id/")
    footprint = f"{feature}.properties.footprint"
    parts = [
        sql_literal(_MARK_OPEN),
        "_id",
        sql_literal('" ;\n            hal:executionId "'),
        "coalesce(provenance.analysis.execution_id, 'unknown')",
        sql_literal('" ;'),
        f"CASE WHEN {sql_nonempty(nucleustype)} THEN concat({sql_literal(_NUCLEUS_OPEN)}, "
        f"{nucleustype}, {sql_literal(_NUCLEUS_CLOSE)}) ELSE '' END",
        f"CASE WHEN {is_nuclear} THEN {sql_literal(_NUCLEAR)} ELSE '' END",
        f"CASE WHEN {ann0} IS NOT NULL AND startswith({ann0}, {snomed_uri}) "
        f"THEN concat({sql_literal(_ANNOTATION_OPEN)}, {ann0}, "
        f"{sql_literal(_ANNOTATION_CLOSE)}) ELSE '' END",
        sql_literal("\n            hal:footprint "),
        f"CASE WHEN {footprint} IS NULL THEN '0' ELSE CAST({footprint} AS STRING) END",
        sql_literal(_WKT_OPEN),
        wkt,
        sql_literal(_WKT_CLOSE),
    ]
    return f"concat({', '.join(parts)})"


_DOC_KEYS = (
    "analysis_id", "exec_id", "image_id", "subject_id", "study", "slide",
    "case_id", "image_width", "image_height", "image_hash", "hash_missing",
)


def _render_marks(marks: DataFrame, analyses: DataFrame) -> DataFrame:
    """One SQL statement: J1, the flagship multi-key equi-join — slide
    participates only when the analysis has one (mongodb_to_rdf.py:
    503-509) — then P3 first feature, G3 WKT and the mark render. Marks
    whose geometry is empty/invalid are dropped (the reference's
    '("", False)' skip channel)."""
    geometry = "get(m.geometries.features, 0).geometry"
    wkt = denormalized_polygon_wkt.sql(
        f"{geometry}.type",
        f"{geometry}.coordinates",
        "CAST(a.image_width AS DOUBLE)",
        "CAST(a.image_height AS DOUBLE)",
    )
    keys = ", ".join(f"a.{k}" for k in _DOC_KEYS if k != "image_hash")
    image_hash = f"coalesce(a.hash, {sha256_id.sql('a.image_id')})"
    return sql_over(lambda m, a: f"""
SELECT {", ".join(_DOC_KEYS)}, _id, {_mark_block("wkt")} AS block
FROM (SELECT {keys}, {image_hash} AS image_hash,
             m._id, m.geometries, m.userUpdate, m.provenance, {wkt} AS wkt
      FROM {m} m JOIN {a} a
        ON m.provenance.analysis.execution_id = a.exec_id
       AND m.provenance.image.imageid = a.image_id
       AND (a.slide = '' OR coalesce(m.provenance.image.slide, '') = a.slide))
WHERE wkt IS NOT NULL""", marks, analyses)


_HASH_MISSING = '    hal:hashMissing "true"^^xsd:boolean ;\n'


def _header(batch_num: str) -> str:
    """SQL text: TTL header + image object + collection opener
    (mongodb_to_rdf.py:304-357)."""

    def opt(label: str, col: str) -> str:
        head, tail = sql_literal(f'    {label} "'), sql_literal('" ;\n')
        return f"CASE WHEN {sql_nonempty(col)} THEN concat({head}, {col}, {tail}) ELSE '' END"

    parts = [
        sql_literal("# GeoSPARQL representation of pathology image analysis\n# Analysis ID: "),
        "analysis_id",
        sql_literal("\n# Execution: "),
        "exec_id",
        sql_literal("\n# Image: "),
        "image_id",
        sql_literal("\n# Batch: "),
        f"format_string('%06d', CAST({batch_num} AS INT))",
        sql_literal("\n\n" + _PREFIXES + "\n<urn:sha256:"),
        "image_hash",
        sql_literal('>\n    a so:ImageObject ;\n    hal:imageId "'),
        "image_id",
        sql_literal('" ;\n'),
        opt("hal:caseId", "case_id"),
        opt("hal:subjectId", "subject_id"),
        opt("hal:studyId", "study"),
        opt("hal:slideId", "slide"),
        f"CASE WHEN hash_missing THEN {sql_literal(_HASH_MISSING)} ELSE '' END",
        sql_literal("    hal:imageWidth "),
        "CAST(image_width AS STRING)",
        sql_literal(" ;\n    hal:imageHeight "),
        "CAST(image_height AS STRING)",
        sql_literal(' ;\n    hal:analysisId "'),
        "analysis_id",
        sql_literal('" ;\n    geo:hasGeometry [\n        geo:asWKT "'),
        image_bbox_wkt.sql("image_width", "image_height"),
        sql_literal(
            '"^^geo:wktLiteral\n    ] ;\n'
            "    hal:hasFeatureCollection [\n        a geo:FeatureCollection"
        ),
    ]
    return f"concat({', '.join(parts)})"


def _documents(bodies: DataFrame) -> DataFrame:
    """One batch file per (analysis, batch): header + members + close."""
    batch_file = "format_string('batch_%06d.ttl.gz', CAST(batch_num AS INT))"
    close = sql_literal("\n    ] .\n")
    return bodies.selectExpr(
        "analysis_id",
        "exec_id",
        "image_id",
        "CAST(batch_id + 1 AS INT) AS batch_num",
        "mark_count",
        f"concat(exec_id, '/', image_id, '/', {batch_file}) AS file_name",
        f"concat({_header('batch_num')}, members, {close}) AS body",
    )


def render_ttl_documents(
    analyses: DataFrame,
    marks: DataFrame,
    slide_hashes: DataFrame | None = None,
    ledger: DataFrame | None = None,
    batch_size: int = BATCH_SIZE,
) -> DataFrame:
    """Full mongo-etl plan -> one row per output batch file:
    (analysis_id, exec_id, image_id, batch_num, mark_count, file_name,
    body).

    ``slide_hashes``: optional (slide, hash) lookup (J4 enrichment);
    missing entries set hal:hashMissing and fall back to sha256(image_id).
    ``ledger``: optional processed-ids table (P9 anti-join on analysis _id).

    Three analyzed steps — the analyses projection (``selectExpr``),
    the J1 join + mark render (one SQL statement), the documents
    (``selectExpr``) — with the J4 enrichment, W1 batching and A6
    assembly as DataFrame calls between them.
    """
    if ledger is not None:
        analyses = filter_pending(analyses, ledger, "_id")

    enrich = slide_hashes is not None
    a = _project_analyses(analyses, enrich)
    if enrich:
        # J4: enrichment with negative-cache semantics
        a = enrich_with_table(
            a,
            slide_hashes.selectExpr("slide AS slide_key", "hash"),
            "slide_key",
            value_col="hash",
            missing_flag_col="hash_missing",
        )
    rendered = _render_marks(marks, a)

    # W1: fixed-size batching over successful marks, ordered by mark _id
    batched = with_batch_id(rendered, ["analysis_id"], "_id", batch_size=batch_size)
    bodies = batched.groupBy(*_DOC_KEYS, "batch_id").agg(
        ordered_concat(F.col("seq_in_group"), F.col("block"), "").alias("members"),
        F.count("*").alias("mark_count"),
    )
    return _documents(bodies)


def run(
    spark,
    analyses: DataFrame,
    marks: DataFrame,
    output_dir: str,
    slide_hashes: DataFrame | None = None,
    ledger_path: str | None = None,
    config=None,
) -> DataFrame:
    """Execute the pipeline end-to-end with exact reference file layout
    and ledger append (K6): exactly-once per job via the file commit
    protocol + atomic ledger append after the write. Pending analyses
    that yield NO document (every mark dropped by the empty/invalid-
    geometry skip channel, or no matching marks at all) are recorded as
    FAILED with an error string — the reference's per-analysis failure
    records (mongodb_to_rdf.py:165-174, utils/checkpoint.py:158-234)."""
    from geosparql_etl_spark.config import EngineConfig
    from geosparql_etl_spark.operators.ledger import (
        append_ledger,
        read_ledger,
        record_failures,
    )
    from geosparql_etl_spark.sinks.ttl import write_documents_exact

    cfg = config or EngineConfig()
    if ledger_path is None:
        ledger_path = cfg.ledger_path
    ledger = read_ledger(spark, ledger_path) if ledger_path else None
    docs = render_ttl_documents(
        analyses, marks, slide_hashes, ledger, batch_size=cfg.batch_size
    )
    write_documents_exact(
        docs, output_dir, compress=cfg.compress, gzip_level=cfg.gzip_level
    )
    if ledger_path:
        done = docs.select(
            F.col("analysis_id").alias("id"),
            F.lit("completed").alias("status"),
            F.lit(None).cast("string").alias("error"),
            F.current_timestamp().alias("ts"),
        ).dropDuplicates(["id"])
        append_ledger(done, ledger_path)
        pending = (
            filter_pending(analyses, ledger, "_id")
            if ledger is not None
            else analyses
        )
        failed = pending.select(F.col("_id").alias("id")).join(
            done.select("id"), "id", "left_anti"
        ).withColumn(
            "error",
            F.lit("no renderable marks (empty/invalid geometry or no matching marks)"),
        )
        record_failures(failed, ledger_path)
    return docs


def run_from_config(spark, config) -> DataFrame:
    """Reference ``main()`` analog (mongodb_to_rdf.py:660-700): source
    db.analysis / db.mark through the document-store adapter (live
    connector when config.mongo.uri is set, parquet/JSON stand-ins
    otherwise) and execute with the config's batch/ledger/sink knobs."""
    from geosparql_etl_spark.sources.mongo import read_analyses, read_marks

    return run(
        spark,
        read_analyses(spark, config.mongo),
        read_marks(spark, config.mongo),
        config.output_dir,
        ledger_path=config.ledger_path,
        config=config,
    )
