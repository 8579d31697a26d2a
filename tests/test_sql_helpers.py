"""functions.sql: the SQL literal quoter, helpers defined once as SQL
text (Column form and SQL form), and statements over frames."""

import pytest
from pyspark.sql import functions as F

from geosparql_etl_spark.functions import geometry as G
from geosparql_etl_spark.functions import hashing as H
from geosparql_etl_spark.functions import text as TX
from geosparql_etl_spark.functions.sql import sql_literal
from geosparql_etl_spark.operators.argmax import dominant_entry

QUOTING_CASES = [
    "it's",
    "back\\slash",
    "\\'",
    "two\nlines\r\n",
    "tab\there",
    "100% of %s and %%",
    'say "hi"',
    "{braces} {0}",
    "é ☃ 😀 ünïcode",
    "ctrl\x01\x1f\x7f",
    "\\n is not a newline",
    "trailing backslash \\",
    "",
]


@pytest.mark.parametrize("value", QUOTING_CASES)
def test_sql_literal_string_round_trips(spark, value):
    assert spark.sql(f"SELECT {sql_literal(value)} AS v").first()["v"] == value


def test_sql_literal_quoting_text():
    assert sql_literal("it's") == "'it\\'s'"
    assert sql_literal("a\\b") == "'a\\\\b'"
    assert sql_literal("a\nb") == "'a\\nb'"
    assert sql_literal("100%") == "'100%'"
    assert sql_literal("é") == "'é'"


def test_sql_literal_doubles_and_maps(spark):
    assert sql_literal(0.0) == "0.0D"
    assert sql_literal(40000.0) == "40000.0D"
    row = spark.sql(
        "SELECT "
        + ", ".join(f"{sql_literal(v)} AS c{i}" for i, v in enumerate([0.0, 40000.0, -1.5e300]))
    ).first()
    assert [row["c0"], row["c1"], row["c2"]] == [0.0, 40000.0, -1.5e300]
    assert dict(spark.sql(f"SELECT {sql_literal(40000.0)} AS d").dtypes) == {"d": "double"}
    registry = {"k1": "v1", "it's": "x%"}
    assert spark.sql(f"SELECT {sql_literal(registry)} AS m").first()["m"] == registry
    for unsupported in (None, 7, float("nan"), object()):
        with pytest.raises(TypeError):
            sql_literal(unsupported)


# --- helpers: Column form over struct fields, literals, odd names ----------

SCHEMA = (
    "geometries struct<features: array<struct<geometry: struct<type: string, "
    "coordinates: array<array<array<double>>>>, properties: struct<measurements: "
    "map<string, double>>>>>, `a b` string, `poly str` string, `t x` string"
)
RING = [[0.1, 0.2], [0.3, 0.2], [0.3, 0.4]]
ROWS = [
    (
        {"features": [{
            "geometry": {"type": "Polygon", "coordinates": [RING, [[0.0, 0.0], [1.0, 0.0], [1.0, 1.0]]]},
            "properties": {"measurements": {"prob_a": 0.25, "prob_b": 0.5, "n": 9.0}},
        }]},
        "12_34_56_78_x.it's.geojson",
        "[1:2:3:4:5:6]",
        'x <urn:md5:abc123> hal:slideId "42" a so:ImageObject ;',
    ),
    (
        {"features": [{"geometry": {"type": "Point", "coordinates": []},
                       "properties": {"measurements": {}}}]},
        "no_dot",
        "",
        "nothing",
    ),
    ({"features": []}, None, None, None),
]

# rows of the Column-DSL definitions these helpers replaced
EXPECTED = {
    "polygon_wkt": ["POLYGON ((0.1 0.2, 0.3 0.2, 0.3 0.4))", None, None],
    "polygon_wkt_rings": [
        "POLYGON ((0.1 0.2, 0.3 0.2, 0.3 0.4, 0.1 0.2), (0.0 0.0, 1.0 0.0, 1.0 1.0, 0.0 0.0))",
        None, None],
    "multipolygon_wkt": [
        "MULTIPOLYGON (((0.1 0.2, 0.3 0.2, 0.3 0.4, 0.1 0.2), (0.0 0.0, 1.0 0.0, 1.0 1.0, 0.0 0.0)))",
        None, None],
    "parse_polygon_string_wkt": ["POLYGON ((1 2, 3 4, 5 6, 1 2))", None, None],
    "denormalized_polygon_wkt": [
        "POLYGON ((4000.00 8000.00, 12000.00 8000.00, 12000.00 16000.00, 4000.00 8000.00))",
        None, None],
    "image_bbox_wkt": [
        "POLYGON ((0 0, 40000 0, 40000 26, 0 26, 0 0))",
        "POLYGON ((0 0, 40000 0, 40000 6, 0 6, 0 0))",
        "POLYGON ((0 0, 40000 0, 40000 null, 0 null, 0 0))"],
    "dominant_entry": [("b", 0.5), (None, 0.0), (None, 0.0)],
    "sha256_id": [
        "8e85922a5ef7ddd4c6945678c2b93a7a202d323246675782bab10e6409d07c82",
        "d4dd86fd4375bf917d4d8f1bd27c0f4c43cb759429c8e8559e63d9aaba04982f", None],
    "extract_image_id": ["12_34_56_78_x", "no_dot", None],
    "patch_metadata": [
        (12, 34, 56, 78, "12_34_56_78_x.it's.geojson"),
        (0, 0, 40000, 40000, "no_dot"),
        (0, 0, 40000, 40000, None)],
    "extract_slide_id": ["42", None, None],
    "extract_urn_hash": ["abc123", None, None],
    "replace_urn_hash": ['x <urn:sha256:ffffffff> hal:slideId "42" a so:ImageObject ;', "nothing", None],
    "mark_missing_hash": [
        'x <urn:md5:abc123> hal:slideId "42" a so:ImageObject ;\n    hal:missing "true"^^xsd:boolean ;',
        "nothing", None],
}


def _values(rows, name):
    return [tuple(r[name]) if hasattr(r[name], "asDict") else r[name] for r in rows]


def test_helpers_column_form_matches_replaced_definitions(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    feat = F.get(F.col("geometries.features"), 0)
    geom = feat["geometry"]
    cols = {
        "polygon_wkt": G.polygon_wkt(geom["coordinates"]),
        "polygon_wkt_rings": G.polygon_wkt_rings(geom["coordinates"]),
        "multipolygon_wkt": G.multipolygon_wkt(F.array(geom["coordinates"])),
        "parse_polygon_string_wkt": G.parse_polygon_string_wkt(F.col("poly str")),
        "denormalized_polygon_wkt": G.denormalized_polygon_wkt(
            geom["type"], geom["coordinates"], F.lit(40000.0), F.lit(40000.0)
        ),
        "image_bbox_wkt": G.image_bbox_wkt(F.lit(40000.0), F.length(F.col("a b"))),
        "dominant_entry": dominant_entry(feat["properties"]["measurements"]),
        "sha256_id": H.sha256_id(F.col("a b")),
        "extract_image_id": TX.extract_image_id(F.col("a b")),
        "patch_metadata": TX.patch_metadata(F.col("a b")),
        "extract_slide_id": TX.extract_slide_id(F.col("t x")),
        "extract_urn_hash": TX.extract_urn_hash(F.col("t x")),
        "replace_urn_hash": TX.replace_urn_hash(F.col("t x"), F.lit("f" * 8)),
        "mark_missing_hash": TX.mark_missing_hash(
            F.col("t x"), F.when(F.col("a b") == "no_dot", F.lit("e" * 8))
        ),
    }
    rows = df.select(*[c.alias(k) for k, c in cols.items()]).collect()
    assert {k: _values(rows, k) for k in cols} == EXPECTED


def test_helpers_sql_form_matches_column_form(spark):
    """The SQL form over backquoted names and nested fields returns the
    same rows as the Column form: both come from one definition."""
    df = spark.createDataFrame(ROWS, SCHEMA)
    geom = "get(geometries.features, 0).geometry"
    exprs = {
        "polygon_wkt": G.polygon_wkt.sql(f"{geom}.coordinates"),
        "parse_polygon_string_wkt": G.parse_polygon_string_wkt.sql("`poly str`"),
        "denormalized_polygon_wkt": G.denormalized_polygon_wkt.sql(
            f"{geom}.type", f"{geom}.coordinates", sql_literal(40000.0), sql_literal(40000.0)
        ),
        "image_bbox_wkt": G.image_bbox_wkt.sql(sql_literal(40000.0), "length(`a b`)"),
        "dominant_entry": dominant_entry.sql(
            "get(geometries.features, 0).properties.measurements"
        ),
        "sha256_id": H.sha256_id.sql("`a b`"),
        "extract_image_id": TX.extract_image_id.sql("`a b`"),
        "patch_metadata": TX.patch_metadata.sql("`a b`"),
        "extract_slide_id": TX.extract_slide_id.sql("`t x`"),
        "replace_urn_hash": TX.replace_urn_hash.sql("`t x`", sql_literal("f" * 8)),
    }
    rows = df.selectExpr(*[f"{e} AS {k}" for k, e in exprs.items()]).collect()
    assert {k: _values(rows, k) for k in exprs} == {k: EXPECTED[k] for k in exprs}


def test_dominant_entry_options_in_both_forms(spark):
    df = spark.sql("SELECT map('p_x', 0.2D, 'p_y', 0.7D, 'prob_z', 0.9D) AS m")
    col = df.select(dominant_entry(F.col("m"), "p_", strip=False).alias("d")).first()["d"]
    txt = df.selectExpr(f"{dominant_entry.sql('m', prefix='p_', strip=False)} AS d").first()["d"]
    assert tuple(col) == tuple(txt) == ("p_y", 0.7)


def test_helpers_sql_form_matches_column_form_for_mark_missing_hash(spark):
    df = spark.createDataFrame(ROWS, SCHEMA).selectExpr(
        "`t x`", "CASE WHEN `a b` = 'no_dot' THEN 'eeee' END AS h"
    )
    col = df.select(TX.mark_missing_hash(F.col("t x"), F.concat(F.col("h"), F.lit(""))).alias("r"))
    txt = df.selectExpr(f"{TX.mark_missing_hash.sql('`t x`', 'h')} AS r")
    assert col.collect() == txt.collect()
    assert [r["r"] for r in txt.collect()] == EXPECTED["mark_missing_hash"]


def test_mark_missing_hash_tag_starts_a_new_line(spark):
    df = spark.createDataFrame([("x a so:ImageObject ;",)], "t string")
    out = df.select(TX.mark_missing_hash(F.col("t"), F.lit(None)).alias("r")).first()["r"]
    assert out == 'x a so:ImageObject ;\n    hal:missing "true"^^xsd:boolean ;'


def _codegen_projects(df) -> tuple[int, int]:
    """(projects inside whole-stage codegen, projects outside it) in the
    executed plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = [ln.strip(" +-:") for ln in plan.splitlines()]
    inside = sum(1 for ln in lines if ln.startswith("*(") and " Project " in f" {ln} ")
    outside = sum(1 for ln in lines if ln.startswith("Project "))
    return inside, outside


def test_column_form_over_a_name_is_the_sql_form(spark):
    """Over column names (strings, or F.col with odd characters) the
    Column form is the SQL text itself: a lambda-free helper such as
    patch_metadata plans inside whole-stage codegen, like the same text
    in a selectExpr. Over an expression it binds a lambda, which runs
    outside it; both return the same rows."""
    df = spark.createDataFrame(
        [("12_34_56_78_x.csv",), ("bad-name.csv",), (None,)], "`a b` string"
    )
    by_name = df.select(TX.patch_metadata("a b").alias("p"))
    by_col = df.select(TX.patch_metadata(F.col("a b")).alias("p"))
    by_sql = df.selectExpr(f"{TX.patch_metadata.sql('`a b`')} AS p")
    by_expr = df.select(TX.patch_metadata(F.concat(F.col("a b"), F.lit(""))).alias("p"))
    for frame in (by_name, by_col, by_sql):
        assert _codegen_projects(frame) == (1, 0)
    assert _codegen_projects(by_expr) == (0, 1)
    rows = by_sql.collect()
    assert rows == by_name.collect() == by_col.collect() == by_expr.collect()
    assert [tuple(r["p"]) for r in rows] == [
        (12, 34, 56, 78, "12_34_56_78_x"),
        (0, 0, 40000, 40000, "bad-name"),
        (0, 0, 40000, 40000, None),
    ]


def test_column_form_keeps_struct_field_references(spark):
    """F.col("a.b") is the field b of struct a, as in SQL; a name with a
    dot inside backquotes is one column."""
    df = spark.sql("SELECT named_struct('b', 'x.y.geojson') AS a, 'p.q' AS `a.b`")
    row = df.select(
        TX.extract_image_id(F.col("a.b")).alias("field"),
        TX.extract_image_id(F.col("`a.b`")).alias("column"),
    ).first()
    assert (row["field"], row["column"]) == ("x", "p")
