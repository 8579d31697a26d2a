"""Golden end-to-end pipeline tests: engine output must be byte-identical
to the reference implementation on the same inputs (timestamp injected).
Skipped when the read-only reference checkout is unavailable."""

import gzip
import json
import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

import ref_oracle
from geosparql_etl_spark.pipelines import hash_update, json_etl, mongo_etl, segmentation_etl
from geosparql_etl_spark.schemas import ANALYSIS_DOC, MARK_DOC, SLIDE_HASHES, TTL_DOCUMENTS

needs_ref = pytest.mark.skipif(
    not ref_oracle.available(), reason="reference checkout not available"
)

TS_Z = "2026-01-01T00:00:00Z"
TS_OFFSET = "2026-01-01T00:00:00+00:00"


def _norm_ts(ttl: str, ts: str) -> str:
    return re.sub(r'(dc:date\s+")[^"]+(")', r"\g<1>" + ts + r"\g<2>", ttl)


# --- json-etl ---------------------------------------------------------------


@needs_ref
def test_json_etl_matches_reference(spark, tmp_path):
    data = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [[[10.0, 20.0], [30.5, 20.0], [30.5, 45.25]]],
                },
                "properties": {
                    "measurements": {
                        "prob_400p-Tumor": 0.75,
                        "prob_400p-Stroma": 0.2,
                        "nr_of_cells": 17.0,
                    }
                },
            },
            {  # non-SNOMED dominant class -> dropped
                "type": "Feature",
                "geometry": {"type": "Polygon", "coordinates": [[[1.0, 1.0], [2.0, 2.0]]]},
                "properties": {"measurements": {"prob_other": 0.9}},
            },
        ],
    }
    name = "TCGA-ZZ-9999-01Z.uuid-1.geojson"
    (tmp_path / "in").mkdir()
    (tmp_path / "in" / name).write_text(json.dumps(data))

    ref = ref_oracle.json_etl()
    expected = _norm_ts(ref.create_geosparql_ttl(data, name, None), TS_Z)

    docs = json_etl.run(spark, str(tmp_path / "in"), str(tmp_path / "out"), TS_Z)
    got = (tmp_path / "out" / name.replace(".geojson", ".ttl")).read_text()
    assert got == expected


# --- segmentation-etl --------------------------------------------------------


@needs_ref
def test_segmentation_etl_matches_reference(spark, tmp_path):
    csv_name = "24001_72001_4000_4000_0.2325_1-features.csv"
    csv_text = (
        "AreaInPixels,PhysicalSize,Polygon\n"
        "250,60.5,[2080:1342:2085:1340:2090:1345]\n"
        ",,[1:2:3:4]\n"  # empty optional props
        "99,1.5,\n"  # empty polygon -> skipped
    )
    base = tmp_path / "base"
    svs_dir = base / "blca_polygon" / "TCGA-XX.svs.tar.gz" / "blca_polygon" / "TCGA-XX.svs"
    svs_dir.mkdir(parents=True)
    (svs_dir / csv_name).write_text(csv_text)

    ref = ref_oracle.segmentation_etl()
    expected = _norm_ts(
        ref.create_geosparql_ttl(svs_dir / csv_name, "TCGA-XX.svs", None, "blca"),
        TS_OFFSET,
    )

    docs = segmentation_etl.run(
        spark, str(base), str(tmp_path / "out"), TS_OFFSET, compress=True
    )
    out = tmp_path / "out" / "TCGA-XX.svs" / ("blca_" + csv_name.replace(".csv", "") + ".ttl.gz")
    assert out.exists(), list((tmp_path / "out").rglob("*"))
    got = gzip.open(out, "rt", encoding="utf-8").read()
    assert got == expected


# --- mongo-etl ----------------------------------------------------------------

ANALYSIS = {
    "_id": "a1b2c3d4e5f6a1b2c3d4e5f6",
    "analysis": {
        "execution_id": "exec-7",
        "algorithm_params": {
            "image_width": "2000",
            "image_height": "1000",
            "case_id": "CASE-1",
        },
    },
    "image": {
        "imageid": "IMG-1",
        "subject": "SUBJ-1",
        "study": "STUDY-1",
        "slide": "12345",
    },
}


def _mark(i: int, nucleustype="tumor.ep.1", ann=None, coords=None):
    features = [
        {
            "geometry": {
                "type": "Polygon",
                "coordinates": coords
                if coords is not None
                else [[[0.1, 0.2], [0.3, 0.2], [0.3, 0.4]]],
            },
            "properties": {"footprint": 512.0, "nucleustype": nucleustype},
        }
    ]
    doc = {
        "_id": f"mark{i:04d}",
        "provenance": {
            "analysis": {"execution_id": "exec-7"},
            "image": {"imageid": "IMG-1", "slide": "12345"},
        },
        "geometries": {"features": features},
    }
    # NOTE: when there is no annotation the key must be ABSENT, not null —
    # the reference's mark.get("userUpdate", {}) turns an explicit null
    # into `"mark" in None` -> TypeError -> silent mark skip
    # (mongodb_to_rdf.py:456-459). Spark's schema can't distinguish
    # absent from null; the engine follows the absent-key semantics.
    if ann:
        doc["userUpdate"] = {"mark": {"annotation": ann}}
    return doc


@needs_ref
def test_mongo_etl_matches_reference(spark, tmp_path):
    ref = ref_oracle.mongo_etl(str(tmp_path))

    marks = [
        _mark(1),
        _mark(2, nucleustype="xx", ann=[{"annotationID": "http://snomed.info/id/999"}]),
        _mark(3, nucleustype="", ann=[{"annotationID": "http://example.org/nope"}]),
        _mark(4, coords=[]),  # invalid geometry -> skipped
    ]

    # reference assembly: header + blocks (cursor order) + close
    header, w, h = ref.create_ttl_header(ANALYSIS, 1, None, None, None)
    expected = header
    ok_marks = 0
    for m in marks:
        block, ok = ref.add_mark_to_ttl(m, w, h, ok_marks == 0)
        if ok:
            expected += block
            ok_marks += 1
    if expected.rstrip().endswith(";"):
        expected = expected.rstrip()[:-1]
    expected += "\n    ] .\n"

    analyses_df = spark.createDataFrame(
        [json.loads(json.dumps(ANALYSIS))], ANALYSIS_DOC
    )
    marks_df = spark.createDataFrame([json.loads(json.dumps(m)) for m in marks], MARK_DOC)
    docs = mongo_etl.render_ttl_documents(analyses_df, marks_df).collect()
    assert len(docs) == 1
    d = docs[0]
    assert d["file_name"] == "exec-7/IMG-1/batch_000001.ttl.gz"
    assert d["mark_count"] == 3
    assert d["body"] == expected


@needs_ref
def test_mongo_etl_batching_and_hash_enrichment(spark, tmp_path):
    ref = ref_oracle.mongo_etl(str(tmp_path))
    marks = [_mark(i) for i in range(1, 8)]  # 7 marks, batch_size=3 -> 3 files
    analyses_df = spark.createDataFrame([json.loads(json.dumps(ANALYSIS))], ANALYSIS_DOC)
    marks_df = spark.createDataFrame([json.loads(json.dumps(m)) for m in marks], MARK_DOC)
    hashes_df = spark.createDataFrame([("12345", "e" * 64)], SLIDE_HASHES)

    docs = mongo_etl.render_ttl_documents(
        analyses_df, marks_df, slide_hashes=hashes_df, batch_size=3
    ).collect()
    assert sorted(d["batch_num"] for d in docs) == [1, 2, 3]
    assert [d["mark_count"] for d in sorted(docs, key=lambda d: d["batch_num"])] == [3, 3, 1]
    for d in docs:
        assert f"<urn:sha256:{'e' * 64}>" in d["body"]
        assert "hal:hashMissing" not in d["body"]

    # missing hash -> fallback to sha256(image_id) + hashMissing flag
    empty_hashes = spark.createDataFrame([("other-slide", "f" * 64)], SLIDE_HASHES)
    docs2 = mongo_etl.render_ttl_documents(
        analyses_df, marks_df, slide_hashes=empty_hashes, batch_size=100
    ).collect()
    assert len(docs2) == 1
    assert 'hal:hashMissing "true"^^xsd:boolean' in docs2[0]["body"]


def test_mongo_etl_ledger_skips_processed(spark):
    analyses_df = spark.createDataFrame([json.loads(json.dumps(ANALYSIS))], ANALYSIS_DOC)
    marks_df = spark.createDataFrame([json.loads(json.dumps(_mark(1)))], MARK_DOC)
    ledger = spark.createDataFrame(
        [("a1b2c3d4e5f6a1b2c3d4e5f6", "completed", None, None)],
        "id string, status string, error string, ts timestamp",
    )
    docs = mongo_etl.render_ttl_documents(analyses_df, marks_df, ledger=ledger)
    assert docs.count() == 0


# --- hash-update ---------------------------------------------------------------


def _ttl_doc(slide: str, h: str) -> str:
    return (
        f'<urn:sha256:{h}>\n    a so:ImageObject ;\n'
        f'    hal:slideId "{slide}" ;\n    hal:imageWidth 10 ;\n'
    )


def test_update_hashes_by_slide_id_statuses(spark):
    docs = spark.createDataFrame(
        [
            ("p/1.ttl", _ttl_doc("100", "a" * 64)),  # stale -> updated
            ("p/2.ttl", _ttl_doc("200", "b" * 64)),  # no hash -> hash_missing
            ("p/3.ttl", _ttl_doc("300", "c" * 64)),  # same hash -> already_correct
            ("p/4.ttl", "no ids here"),  # no slideId
        ],
        TTL_DOCUMENTS,
    )
    hashes = spark.createDataFrame(
        [("100", "d" * 64), ("300", "c" * 64)], SLIDE_HASHES
    )
    out = {r["path"]: r for r in hash_update.update_hashes_by_slide_id(docs, hashes).collect()}
    assert out["p/1.ttl"]["status"] == "updated"
    assert f'<urn:sha256:{"d" * 64}>' in out["p/1.ttl"]["text"]
    assert out["p/2.ttl"]["status"] == "hash_missing"
    assert out["p/2.ttl"]["text"] == _ttl_doc("200", "b" * 64)  # unchanged
    assert out["p/3.ttl"]["status"] == "already_correct"
    assert out["p/4.ttl"]["status"] == "no_slide_id"


def test_update_hashes_idempotent(spark):
    docs = spark.createDataFrame([("p/1.ttl", _ttl_doc("100", "a" * 64))], TTL_DOCUMENTS)
    hashes = spark.createDataFrame([("100", "d" * 64)], SLIDE_HASHES)
    once = hash_update.update_hashes_by_slide_id(docs, hashes).select("path", "text")
    twice = hash_update.update_hashes_by_slide_id(once, hashes).select("path", "text")
    assert once.collect() == twice.collect()


def test_update_by_folder_mark_missing(spark):
    docs = spark.createDataFrame(
        [(f"base/SLIDE-A.svs/doc.ttl", f'<urn:md5:{"9" * 32}> a so:ImageObject ;')],
        TTL_DOCUMENTS,
    )
    hashes = spark.createDataFrame([("OTHER.svs", "f" * 64)], SLIDE_HASHES)
    out = hash_update.update_hashes_by_folder(docs, hashes, mark_missing=True).collect()[0]
    assert out["status"] == "hash_missing"
    assert 'hal:missing "true"^^xsd:boolean' in out["text"]


def test_json_etl_observe_metrics(spark, tmp_path):
    """A2 runtime metrics via Observation: one pass, no recount."""
    import json as _json

    data = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [[[1.0, 2.0], [3.0, 2.0], [3.0, 4.0]]],
                },
                "properties": {"measurements": {"prob_400p-Tumor": 0.9}},
            }
        ],
    }
    (tmp_path / "in").mkdir()
    for i in range(3):
        (tmp_path / "in" / f"img-{i}.geojson").write_text(_json.dumps(data))

    docs, metrics = json_etl.run(
        spark, str(tmp_path / "in"), str(tmp_path / "out"), TS_Z,
        collect_metrics=True,
    )
    assert metrics["n_documents"] == 3
    assert metrics["total_bytes"] > 3 * len(json_etl._PREFIX_HEADER)


def test_json_etl_unregistered_dominant_class_yields_no_member(spark, tmp_path):
    """SNOMED lookup keeps inner-join meaning: a feature whose dominant
    class is outside the registry (even when a registered class scores
    lower) or that has no measurements renders no rdfs:member block,
    and its file still gets a document."""

    def feature(measurements):
        return {
            "type": "Feature",
            "geometry": {
                "type": "Polygon",
                "coordinates": [[[1.0, 2.0], [3.0, 2.0], [3.0, 4.0]]],
            },
            "properties": {"measurements": measurements},
        }

    (tmp_path / "in").mkdir()
    (tmp_path / "in" / "none.geojson").write_text(json.dumps({
        "type": "FeatureCollection",
        "features": [
            feature({"prob_other": 0.9, "prob_400p-Tumor": 0.1}),
            feature({"prob_400p-Unknown": 0.5}),
            feature({}),
        ],
    }))
    (tmp_path / "in" / "one.geojson").write_text(json.dumps({
        "type": "FeatureCollection",
        "features": [feature({}), feature({"prob_400p-Stroma": 0.6})],
    }))
    json_etl.run(spark, str(tmp_path / "in"), str(tmp_path / "out"), TS_Z)
    none = (tmp_path / "out" / "none.ttl").read_text()
    assert none.startswith("@prefix") and "geo:FeatureCollection" in none
    assert "rdfs:member" not in none
    one = (tmp_path / "out" / "one.ttl").read_text()
    assert one.count("rdfs:member") == 1
    assert "hal:classification  sno:128752000;" in one


def test_segmentation_path_regex_dotted_tcga_ids(spark, tmp_path):
    """S3 trip wire (SURVEY §7): TCGA image names contain dots and the
    archive dir embeds .svs.tar.gz — the path regex must keep the full
    dotted stem for image_name and not split on the first dot."""
    from geosparql_etl_spark.sources.segmentation import read_patch_csvs

    dotted = "TCGA-2F-A9KO-01Z.195576CF-B739-4BD9.svs"
    base = tmp_path / "base"
    d = base / "paad_polygon" / (dotted.replace(".svs", "") + ".svs.tar.gz") / "paad_polygon" / dotted
    d.mkdir(parents=True)
    (d / "100_200_4000_4000_0.25_1-features.csv").write_text(
        "AreaInPixels,PhysicalSize,Polygon\n10,1.0,[1:2:3:4]\n"
    )
    row = read_patch_csvs(spark, str(base)).first()
    assert row["image_name"] == dotted
    assert row["cancer_type"] == "paad"
    assert row["patch"]["x"] == 100 and row["patch"]["height"] == 4000


def test_geojson_malformed_file_yields_empty_document(spark, tmp_path):
    """Permissive-parse deviation (documented, SURVEY §1.3): a malformed
    .geojson produces a header-only document instead of the reference's
    per-file error tuple — the file is never silently lost."""
    (tmp_path / "in").mkdir()
    (tmp_path / "in" / "broken.geojson").write_text("{not valid json")
    docs = json_etl.run(spark, str(tmp_path / "in"), str(tmp_path / "out"), TS_Z)
    out = (tmp_path / "out" / "broken.ttl").read_text()
    assert out.startswith("@prefix")
    assert "rdfs:member" not in out


def test_mongo_etl_run_records_failures_and_retries(spark, tmp_path):
    """Pipeline failure channel: an analysis whose marks all fall in the
    skip channel (or that has no marks) is recorded FAILED with an error
    string; resume skips it; clear_failed + a fixed input retries it to
    completed (mongodb_to_rdf.py:165-174 per-analysis failure records)."""
    from geosparql_etl_spark.operators.ledger import (
        clear_failed,
        failed_report,
        read_ledger,
    )

    a2 = json.loads(json.dumps(ANALYSIS))
    a2["_id"] = "ffffffffffffffffffffffff"
    a2["analysis"]["execution_id"] = "exec-8"
    a2["image"]["imageid"] = "IMG-2"
    a2["image"]["slide"] = "67890"

    analyses_df = spark.createDataFrame(
        [json.loads(json.dumps(ANALYSIS)), a2], ANALYSIS_DOC
    )
    marks_df = spark.createDataFrame(
        [json.loads(json.dumps(_mark(1)))], MARK_DOC  # exec-7 only
    )
    out, ledger_path = str(tmp_path / "out"), str(tmp_path / "ledger")

    docs = mongo_etl.run(spark, analyses_df, marks_df, out, ledger_path=ledger_path)
    assert docs.count() == 1  # exec-7 rendered; exec-8 had nothing
    led = read_ledger(spark, ledger_path)
    statuses = {r["id"]: r["status"] for r in led.collect()}
    assert statuses == {
        "a1b2c3d4e5f6a1b2c3d4e5f6": "completed",
        "ffffffffffffffffffffffff": "failed",
    }
    rep = failed_report(led).collect()
    assert len(rep) == 1 and "no renderable marks" in rep[0]["error"]

    # resume: both ids skipped, nothing new lands in the ledger
    docs2 = mongo_etl.run(spark, analyses_df, marks_df, out, ledger_path=ledger_path)
    assert docs2.count() == 0
    assert read_ledger(spark, ledger_path).count() == 2

    # retry-after-clear with the input fixed: exec-8 now has a mark
    clear_failed(spark, ledger_path)
    m2 = json.loads(json.dumps(_mark(2)))
    m2["provenance"]["analysis"]["execution_id"] = "exec-8"
    m2["provenance"]["image"] = {"imageid": "IMG-2", "slide": "67890"}
    marks_fixed = spark.createDataFrame(
        [json.loads(json.dumps(_mark(1))), m2], MARK_DOC
    )
    docs3 = mongo_etl.run(spark, analyses_df, marks_fixed, out, ledger_path=ledger_path)
    assert docs3.count() == 1  # only the retried analysis runs
    led = read_ledger(spark, ledger_path)
    assert failed_report(led).count() == 0
    assert {r["status"] for r in led.collect()} == {"completed"}


def test_json_etl_corrupt_file_error_channel(spark, tmp_path):
    """PERMISSIVE JSON turns a malformed file into an all-null row
    (silent loss); the error-channel scan surfaces it: bad files land in
    the failure ledger with an error class, good files complete, and a
    re-run skips both (reference: per-file try/except + result tuples,
    json-etl:195-245)."""
    from geosparql_etl_spark.operators.ledger import failed_report, read_ledger

    good = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [[[1.0, 2.0], [3.0, 2.0], [3.0, 4.0]]],
                },
                "properties": {
                    "measurements": {"prob_400p-Tumor": 0.9, "nr_of_cells": 5.0}
                },
            }
        ],
    }
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "TCGA-AA-0001-01Z.u1.geojson").write_text(json.dumps(good))
    (in_dir / "TCGA-BB-0002-01Z.u2.geojson").write_text('{"type": "FeatureColl')  # truncated
    (in_dir / "TCGA-CC-0003-01Z.u3.geojson").write_text('{"hello": "world"}')  # no features

    out, ledger_path = str(tmp_path / "out"), str(tmp_path / "ledger")
    docs = json_etl.run(spark, str(in_dir), out, TS_Z, ledger_path=ledger_path)
    assert docs.count() == 1  # only the good file renders
    assert (tmp_path / "out" / "TCGA-AA-0001-01Z.u1.ttl").exists()

    led = read_ledger(spark, ledger_path)
    rep = {r["id"]: r["error"] for r in failed_report(led).collect()}
    assert rep == {
        "TCGA-BB-0002-01Z.u2.geojson": "malformed JSON",
        "TCGA-CC-0003-01Z.u3.geojson": "no features array",
    }
    assert led.where(F.col("status") == "completed").count() == 1

    # resume: everything (completed + failed) is skipped
    docs2 = json_etl.run(spark, str(in_dir), out, TS_Z, ledger_path=ledger_path)
    assert docs2.count() == 0
    assert read_ledger(spark, ledger_path).count() == 3


# --- golden bytes ---------------------------------------------------------------
# Exact documents of json, segmentation and mongo run() and of the hash
# rewrite on small fixtures, pinned as SHA-256 digests. Data values and
# both timestamps carry an apostrophe, a backslash, a double quote, a
# newline, a '%' and braces, so every Python value the renderers embed
# in a plan must round-trip verbatim.

TS_GOLDEN_Z = "2026-01-01T00:00:00Z it's \\ \"q\" 100% {x}\nend"
TS_GOLDEN_OFFSET = "2026-01-01T00:00:00+00:00 o'clock \\ 5%"


def _tree(root) -> dict[str, str]:
    """rel path -> document text (gunzipped) of every output file."""
    out = {}
    for p in Path(root).rglob("*"):
        if p.is_file() and not p.name.startswith((".", "_")):
            raw = p.read_bytes()
            out[str(p.relative_to(root))] = (
                gzip.decompress(raw) if p.name.endswith(".gz") else raw
            ).decode("utf-8")
    return out


def _digests(docs: dict[str, str]) -> dict[str, str]:
    import hashlib

    return {k: hashlib.sha256(v.encode("utf-8")).hexdigest() for k, v in docs.items()}


def _golden_feature(coords, measurements):
    return {
        "type": "Feature",
        "geometry": {"type": "Polygon", "coordinates": coords},
        "properties": {"measurements": measurements},
    }


def test_json_etl_golden_bytes(spark, tmp_path):
    tri = [[[10.0, 20.0], [30.5, 20.0], [30.5, 45.25]]]
    f = _golden_feature
    files = {
        "TCGA-AA-0001-01Z.it's-100%.geojson": [
            f(tri, {"prob_400p-Tumor": 0.75, "prob_400p-Stroma": 0.2,
                    "prob_other": 0.05, "nr_of_cells": 17.0}),
            f([[[1.5, 2.25], [3.0, 4.0], [5.0, 6.0], [1.5, 2.25]]],
              {"prob_400p-Necrosis": 0.5, "prob_400p-Nerves": 0.5}),
            f([], {"prob_400p-Tumor": 0.9}),  # no ring -> no member
            f(tri, {"prob_other": 0.9, "prob_400p-Fibrosis": 0.1}),
            f(tri, {}),
            f([[[0.0001, 12345678.0], [2.0, 3.0]]], {"prob_400p-Reactive": 0.333333333}),
        ],
        "TCGA-BB-0002-01Z.empty.geojson": [],  # header-only document
        "plain.geojson": [f(tri, {"prob_400p-Acinar tissue": 1.0})],
    }
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for name, feats in files.items():
        (in_dir / name).write_text(json.dumps({"type": "FeatureCollection", "features": feats}))
    (in_dir / "broken.geojson").write_text("{not valid json")

    json_etl.run(spark, str(in_dir), str(tmp_path / "out"), TS_GOLDEN_Z)
    docs = _tree(tmp_path / "out")
    assert _digests(docs) == {
        "TCGA-AA-0001-01Z.it's-100%25.ttl": "f4aa96774568ae768925742f460395e7acfa93ad1d67e9e00aebe307c15d69b4",
        "TCGA-BB-0002-01Z.empty.ttl": "284a3c2ec09c9a4ef21401c6f34dbed2aa116d4be1c1c373498e0a1e56a44b11",
        "broken.ttl": "6e7ba797fe811779924d1e30c649aa46f096181b937e9d0dae84b0acb0947a56",
        "plain.ttl": "58b7011114b6aba99a42584b842c2c29c7dcb4ec9fd31cbd5908208012de8048",
    }
    assert f'dc:date              "{TS_GOLDEN_Z}"^^xsd:dateTime;' in docs["plain.ttl"]
    assert docs["TCGA-AA-0001-01Z.it's-100%25.ttl"].count("rdfs:member") == 3
    assert "rdfs:member" not in docs["TCGA-BB-0002-01Z.empty.ttl"]


def test_segmentation_etl_golden_bytes(spark, tmp_path):
    base = tmp_path / "base"

    def write(cancer, slide, csv_name, text):
        d = base / f"{cancer}_polygon" / f"{slide}.svs.tar.gz" / f"{cancer}_polygon" / f"{slide}.svs"
        d.mkdir(parents=True, exist_ok=True)
        (d / csv_name).write_text(text)

    write("blca", "TCGA-XX-it's.1", "24001_72001_4000_4000_0.2325_1-features.csv",
          "AreaInPixels,PhysicalSize,Polygon\n"
          "250,60.5,[2080:1342:2085:1340:2090:1345]\n"
          ",,[1:2:3:4]\n"
          "99,1.5,\n"
          "it's,\"say \"\"hi\"\" 5%\",[1.5:2':3\\x:4%:1.5:2']\n"
          "7,8,[5:6:7:8:9]\n")
    # every polygon invalid -> header-only document; unparsable patch name
    write("blca", "TCGA-XX-it's.1", "odd_name-features.csv",
          "AreaInPixels,PhysicalSize,Polygon\n1,2,\n3,4,  \n")
    write("paad", "TCGA-YY-2", "100_200_300_400_0.25_1-features.csv",
          "AreaInPixels,PhysicalSize,Polygon\n10,1.0,[1:2:3:4:1:2]\n")

    segmentation_etl.run(spark, str(base), str(tmp_path / "out"), TS_GOLDEN_OFFSET)
    docs = _tree(tmp_path / "out")
    odd = "TCGA-XX-it's.1.svs/blca_odd_name-features.ttl.gz"
    assert _digests(docs) == {
        "TCGA-XX-it's.1.svs/blca_24001_72001_4000_4000_0.2325_1-features.ttl.gz": "25b3a24970d97ea622056f0bc40849153cd5f95ff3bfd4eb48a1369adffabc8a",
        odd: "4c6cd089056777d8f763cf74068a6af5281d39b711291deac836a6397f73e1dd",
        "TCGA-YY-2.svs/paad_100_200_300_400_0.25_1-features.ttl.gz": "6da2ea90f47f97af61cff2223a9147416d3320c2eb89892b3b1ba3a2a884ded6",
    }
    assert "rdfs:member" not in docs[odd] and f'"{TS_GOLDEN_OFFSET}"' in docs[odd]


def test_mongo_etl_golden_bytes(spark, tmp_path):
    from geosparql_etl_spark.config import EngineConfig

    exec_id = "exec-7's 5%"
    analysis = json.loads(json.dumps(ANALYSIS))
    analysis["analysis"]["execution_id"] = exec_id
    analysis["analysis"]["algorithm_params"]["case_id"] = 'CASE "1"'
    analysis["image"].update(subject="SUBJ\\1", study="STUDY\n1")
    a2 = {
        "_id": "ffffffffffffffffffffffff",
        "analysis": {"execution_id": None,
                     "algorithm_params": {"image_width": "x", "image_height": None,
                                          "case_id": ""}},
        "image": {"imageid": "IMG-2", "subject": None, "study": "", "slide": None},
    }

    def mark(i, exec_=exec_id, image=None, gtype="Polygon", footprint=512.0, **kw):
        m = _mark(i, **kw)
        m["provenance"] = {"analysis": {"execution_id": exec_},
                           "image": image or {"imageid": "IMG-1", "slide": "12345"}}
        feat = m["geometries"]["features"][0]
        feat["geometry"]["type"] = gtype
        feat["properties"]["footprint"] = footprint
        return m

    img2 = {"imageid": "IMG-2", "slide": None}
    marks = [
        mark(1),
        mark(2, nucleustype="it's \\ \"x\"\n5%.a.b",
             ann=[{"annotationID": "http://snomed.info/id/99'9"}]),
        mark(3, nucleustype="", ann=[{"annotationID": "http://example.org/nope"}]),
        mark(4, coords=[]),  # invalid geometry -> skipped
        mark(5, footprint=None, coords=[[[0.5, 0.5], [0.6, 0.5], [0.6, 0.6], [0.5, 0.5]]]),
        mark(6, gtype="Point"),  # not a polygon -> skipped
        mark(7, image={"imageid": "IMG-1", "slide": "other"}),  # slide mismatch
        mark(8, exec_="unknown", image=img2, nucleustype=None),
        mark(9, exec_="unknown", image=img2),
    ]
    analyses_df = spark.createDataFrame([analysis, a2], ANALYSIS_DOC)
    marks_df = spark.createDataFrame(marks, MARK_DOC)

    mongo_etl.run(spark, analyses_df, marks_df, str(tmp_path / "out"),
                  config=EngineConfig(batch_size=2))
    assert _digests(_tree(tmp_path / "out")) == {
        "exec-7's 5%/IMG-1/batch_000001.ttl.gz": "616c93d8708c075e66ad4cd8829f83d785bcca6887c7c27c4e3b4cc3db9f46b3",
        "exec-7's 5%/IMG-1/batch_000002.ttl.gz": "7d2e36e1cfdde17b166fa65af9ab5237e9107846296b2fbe250de1a24ee68fa2",
        "unknown/IMG-2/batch_000001.ttl.gz": "89209db7055b8eebc7d4a6f2058bbb7c8cec2f036d1a689ec3e0a25030c15071",
    }

    hashes = spark.createDataFrame([("12345", "9" * 64)], SLIDE_HASHES)
    mongo_etl.run(spark, analyses_df, marks_df, str(tmp_path / "hashed"), slide_hashes=hashes)
    docs = _tree(tmp_path / "hashed")
    assert _digests(docs) == {
        "exec-7's 5%/IMG-1/batch_000001.ttl.gz": "cb2aac6001b22b7eb0281bb8714ba3d235eeec733beb1e4844bdab6808c480cc",
        "unknown/IMG-2/batch_000001.ttl.gz": "41827cd79deae07d5c23929e264b4a610f76de762c47fd4f2f46fbefd121a072",
    }
    first = docs["exec-7's 5%/IMG-1/batch_000001.ttl.gz"]
    assert 'hal:nucleusType "it\'s \\ "x"\n5%.a.b" ;' in first
    assert f"<urn:sha256:{'9' * 64}>" in first


def test_hash_rewrite_golden_bytes(spark, tmp_path):
    from geosparql_etl_spark.sinks.ttl import rewrite_documents

    docs = spark.createDataFrame(
        [
            ("in/1.ttl.gz", f'<urn:sha256:{"a" * 64}>\n    a so:ImageObject ;\n'
                            '    hal:slideId "100" ;\n    rdfs:comment "it\'s \\\\ \\"q\\" 5%\n" .\n'),
            ("in/2.ttl.gz", f'<urn:md5:{"b" * 32}> a so:ImageObject ;\n    hal:slideId "200" .\n'),
            ("in/3.ttl.gz", "no ids here 'quoted' 100%\n"),
            ("in/4.ttl.gz", f'<urn:sha256:{"c" * 64}> hal:slideId "300" ; <urn:md5:{"d" * 32}> .\n'),
        ],
        TTL_DOCUMENTS,
    )
    hashes = spark.createDataFrame([("100", "e" * 64), ("300", "f" * 64)], SLIDE_HASHES)
    rewritten = hash_update.update_hashes_by_slide_id(docs, hashes)
    assert sorted(
        (r["path"], r["slide"], r["old_hash"], r["hash"], r["status"]) for r in rewritten.collect()
    ) == [
        ("in/1.ttl.gz", "100", "a" * 64, "e" * 64, "updated"),
        ("in/2.ttl.gz", "200", "b" * 32, None, "hash_missing"),
        ("in/3.ttl.gz", None, None, None, "no_slide_id"),
        ("in/4.ttl.gz", "300", "c" * 64, "f" * 64, "updated"),
    ]
    rewrite_documents(
        rewritten.withColumn("file_name", F.regexp_extract("path", r"([^/]+)$", 1)),
        str(tmp_path / "out"),
    )
    assert _digests(_tree(tmp_path / "out")) == {
        "1.ttl.gz": "e8f5c039120dfcbd7967b8b9766484f551dcc2d14578948b418a2ac2a54ff7a8",
        "2.ttl.gz": "bee182c237986158aba9f381eb83a13a08c6d52bf3d9080777813d0f19899597",
        "3.ttl.gz": "4ac080cdbab0c0daca40f510e86b051cf742e2ed715fe2d0b8e113052d58e5e0",
        "4.ttl.gz": "f4e0c85d7c24aa41ac3eb6227489c72c39f91a4b53758fe6c994b073b3595f8d",
    }
