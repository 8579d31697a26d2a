"""Self-tests of the benchmark (not of the engine):

    python -m pytest perfbench -q

- the generator writes the same bytes for the same seed;
- the plain-Python expected answers agree with the engine on a tiny
  seed (needs a local Spark session, about a minute);
- the metric names the benchmark emits are exactly BENCHMARK.json's.
"""

from __future__ import annotations

import json
import os
import statistics
from pathlib import Path

import pytest

from perfbench import gen, workloads
from perfbench.queries import KINDS, build_queries
from perfbench.run import END_TO_END, per_layer_names
from perfbench.spans import Tracer

ROOT = Path(__file__).resolve().parent.parent
TINY = gen.EtlSize(json_files=2, seg_images=2, seg_patches=2, seg_rows=6,
                   analyses=3, hot_marks=1200, cold_marks=20, missing_hashes=1)


def test_generator_is_byte_deterministic_per_seed(tmp_path):
    a = gen.generate_etl(str(tmp_path / "a"), 7, TINY)
    b = gen.generate_etl(str(tmp_path / "b"), 7, TINY)
    c = gen.generate_etl(str(tmp_path / "c"), 8, TINY)
    assert workloads.digests(a.root) == workloads.digests(b.root)
    assert workloads.digests(a.root) != workloads.digests(c.root)
    assert a.records == b.records and a.json_docs == b.json_docs


def test_expected_answers_are_nonempty_and_seeded(tmp_path):
    inp = gen.generate_etl(str(tmp_path / "in"), 3, TINY)
    qs = build_queries(inp, 3)
    assert sorted({q.kind for q in qs}) == sorted(KINDS)
    assert all(sum(q.expected.values()) > 0 for q in qs)
    assert [q.text for q in qs] == [q.text for q in build_queries(inp, 3)]


def test_emitted_metric_names_match_benchmark_json(tmp_path):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [m["name"] for m in spec["end_to_end"]] == list(END_TO_END)
    declared = [m["name"] for m in spec["per_layer"]]
    assert declared == per_layer_names()
    # every name a workload computes is declared
    inp = gen.generate_etl(str(tmp_path / "in"), 1, TINY)
    for wl in (workloads.EtlIngest(None, inp, str(tmp_path / "ref")),
               workloads.GeosparqlQuery(None, inp, str(tmp_path / "ref"), 1)):
        assert set(wl.layer_metrics({}, statistics.median)) <= set(declared)
        assert {f"spark.{wl.name}.{k}" for k in ("jobs", "stages", "tasks", "failed_tasks")} <= set(declared)


@pytest.fixture(scope="module")
def spark():
    from geosparql_etl_spark.session import get_spark

    # Python workers import the engine from the repository root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)

    s = get_spark("perfbench-selftest", master="local[2]", shuffle_partitions=2,
                  extra_conf={"spark.ui.showConsoleProgress": "false",
                              "spark.driver.memory": "2g"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_plain_python_answers_agree_with_engine_on_tiny_seed(spark, tmp_path):
    inp = gen.generate_etl(str(tmp_path / "in"), 5, TINY)
    etl = workloads.EtlIngest(spark, inp, str(tmp_path / "etl"))
    etl.warm()  # runs every operation once and checks it
    for op in etl.ops(Tracer(False)):
        out = str(tmp_path / "sample" / op.name)
        op.check(out, op.run(out))
    geo = workloads.GeosparqlQuery(spark, inp, str(tmp_path / "geo"), 5)
    geo.warm()
    for q in geo.queries:
        assert q.check(geo._run(q)) is None
