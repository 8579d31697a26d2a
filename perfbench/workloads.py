"""The two workloads and their operations.

Each operation is a timed call into the engine, ``run(out_dir)``, and
an untimed ``check(out_dir, result)`` that compares what it wrote or
returned against the generator's expectations and raises
``CheckFailed`` on any difference. ``traced(out_dir)`` repeats the
operation with spans around each layer call (traced runs only),
checks it the same way, and returns that operation's layer timings.
"""

from __future__ import annotations

import glob
import gzip
import hashlib
import os
import re
import shutil
import time
from dataclasses import dataclass
from typing import Callable

from perfbench import gen
from perfbench.queries import KINDS, Query, build_queries
from perfbench.spans import tree_cpu_s


class CheckFailed(Exception):
    pass


@dataclass
class Op:
    name: str
    run: Callable[[str], object]
    check: Callable[[str, object], None]
    traced: Callable[[str], dict]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _rel_files(root: str) -> list[str]:
    out = []
    for d, _, files in os.walk(root):
        for f in files:
            if not f.startswith((".", "_")):
                out.append(os.path.relpath(os.path.join(d, f), root))
    return sorted(out)


def _content(path: str) -> bytes:
    """File bytes, decompressed for gzip (gzip headers carry mtime)."""
    if path.endswith(".gz"):
        with gzip.open(path, "rb") as f:
            return f.read()
    with open(path, "rb") as f:
        return f.read()


def digests(root: str) -> dict[str, str]:
    return {
        rel: hashlib.sha256(_content(os.path.join(root, rel))).hexdigest()
        for rel in _rel_files(root)
    }


def _expect_names(root: str, expected) -> None:
    got = set(_rel_files(root))
    want = set(expected)
    if got != want:
        raise CheckFailed(
            f"{root}: {len(got)} files, expected {len(want)}; "
            f"missing {sorted(want - got)[:2]} extra {sorted(got - want)[:2]}"
        )


def _expect_same(root: str, reference: dict[str, str]) -> None:
    _expect_names(root, reference)
    bad = [rel for rel, h in digests(root).items() if reference[rel] != h]
    if bad:
        raise CheckFailed(f"{root}: content differs from the reference run: {bad[:2]}")


def scoped_triples(spark, paths: list[str]):
    """Turtle documents -> triples, with blank-node ids made unique per
    document (the parser numbers them per document, so two documents'
    ``_:b1`` are different nodes)."""
    from pyspark.sql import functions as F

    from geosparql_etl_spark.sources.ttl import read_ttl_documents
    from geosparql_etl_spark.sources.turtle import turtle_to_triples

    docs = None
    for p in paths:
        d = read_ttl_documents(spark, p)
        docs = d if docs is None else docs.unionByName(d)
    tri = turtle_to_triples(docs)

    def scope(c):
        col = F.col(c)
        return F.when(col.startswith("_:"), F.concat(col, F.lit("@"), F.col("path"))).otherwise(col)

    return tri.withColumn("subject", scope("subject")).withColumn("object", scope("object"))


def check_triple_counts(spark, path_globs: list[str], expected: dict[str, int]) -> None:
    """Parse every document under ``path_globs`` with turtle_to_triples
    (one job) and match each one's triple count against the generator's."""
    from pyspark.sql import functions as F

    from geosparql_etl_spark.sources.ttl import read_ttl_documents
    from geosparql_etl_spark.sources.turtle import turtle_to_triples

    rows = (
        turtle_to_triples(read_ttl_documents(spark, path_globs))
        .groupBy("path").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    got = {}
    for r in rows:
        for name in expected:
            if r["path"].endswith("/" + name):
                got[name] = r["n"]
    if got != expected:
        bad = [(k, got.get(k), v) for k, v in expected.items() if got.get(k) != v]
        raise CheckFailed(f"triple counts differ (name, got, want): {bad[:3]}")


# --------------------------------------------------------------------- etl


class EtlIngest:
    """The paper's write path: three pipelines, the hash rewrite and
    the Turtle load, each on the same generated inputs every sample."""

    name = "etl_ingest"
    op_names = ("json_etl", "segmentation_etl", "mongo_etl", "hash_rewrite", "ttl_load")
    # the functions.geometry WKT builder each pipeline renders with, in
    # op_names order
    geometry_functions = ("polygon_wkt", "parse_polygon_string_wkt", "denormalized_polygon_wkt")
    nominal_cycle_s = 7.5  # one untraced cycle with its checks, 4 cores, calm machine
    warm_cycles = 0  # a cycle costs ~8 s, which the run budget cannot spare
    # pass_s takes each operation's best sample: with no warm cycles the
    # samples still fall as the JVM compiles, and interference on a
    # shared machine (hypervisor steal) only ever adds time
    pass_stat = "best"

    def __init__(self, spark, inp: gen.EtlInputs, ref_dir: str):
        self.spark, self.inp, self.ref = spark, inp, ref_dir
        self.refs: dict[str, dict[str, str]] = {}
        self.records = inp.records
        self.json_triples = sum(inp.json_docs.values())

    # -- engine calls ------------------------------------------------------
    def _json(self, out: str):
        from geosparql_etl_spark.pipelines import json_etl

        json_etl.run(self.spark, self.inp.json_dir, out, gen.TIMESTAMP_JSON)

    def _seg(self, out: str):
        from geosparql_etl_spark.pipelines import segmentation_etl

        segmentation_etl.run(self.spark, self.inp.seg_dir, out, gen.TIMESTAMP_SEG)

    def _mongo_config(self, out: str):
        from geosparql_etl_spark.config import EngineConfig, MongoSourceConfig

        return EngineConfig(
            output_dir=out, mongo=MongoSourceConfig(fallback_dir=self.inp.mongo_dir)
        )

    def _mongo(self, out: str):
        from geosparql_etl_spark.pipelines import mongo_etl

        mongo_etl.run_from_config(self.spark, self._mongo_config(out))

    def _rehashed(self):
        from pyspark.sql import functions as F

        from geosparql_etl_spark.pipelines.hash_update import update_hashes_by_slide_id
        from geosparql_etl_spark.sources.ttl import read_slide_hashes, read_ttl_documents

        docs = read_ttl_documents(self.spark, os.path.join(self.ref, "mongo", "*", "*", "*.ttl.gz"))
        hashes = read_slide_hashes(self.spark, self.inp.hashes_path)
        return update_hashes_by_slide_id(docs, hashes).withColumn(
            "file_name", F.regexp_extract("path", r"([^/]+/[^/]+/[^/]+)$", 1)
        )

    def _hash(self, out: str):
        from geosparql_etl_spark.sinks.ttl import rewrite_documents

        rewrite_documents(self._rehashed(), out)

    def _triples(self):
        return scoped_triples(self.spark, [os.path.join(self.ref, "json")])

    def _ttl_load(self, out: str):
        from geosparql_etl_spark.sinks.parquet import write_partitioned

        write_partitioned(self._triples(), out, ["predicate"])

    # -- checks ------------------------------------------------------------
    def _check_hash(self, out: str, _=None):
        _expect_names(out, self.inp.mongo_docs)
        urn = re.compile(r"<urn:(?:sha256|md5):[0-9a-fA-F]+>")
        for name, slide in self.inp.mongo_slides.items():
            before = _content(os.path.join(self.ref, "mongo", name)).decode()
            h = self.inp.slide_hashes.get(slide)
            want = urn.sub(f"<urn:sha256:{h}>", before) if h else before
            if _content(os.path.join(out, name)).decode() != want:
                raise CheckFailed(f"hash_rewrite: {name} (slide {slide}) not rewritten as expected")

    def _check_ttl_load(self, out: str, _=None):
        import pyarrow.parquet as pq

        n = sum(pq.read_metadata(f).num_rows for f in glob.glob(f"{out}/**/*.parquet", recursive=True))
        if n != self.json_triples:
            raise CheckFailed(f"ttl_load: {n} triples written, expected {self.json_triples}")

    def reference(self) -> None:
        """Deep checks on the warm-up outputs, which later samples must
        then reproduce byte for byte (after decompression)."""
        inp, spark = self.inp, self.spark
        _expect_names(os.path.join(self.ref, "json"), inp.json_docs)
        _expect_names(os.path.join(self.ref, "seg"), inp.seg_docs)
        _expect_names(os.path.join(self.ref, "mongo"), inp.mongo_docs)
        check_triple_counts(
            spark,
            [os.path.join(self.ref, "json"),
             os.path.join(self.ref, "seg", "*", "*.ttl.gz"),
             os.path.join(self.ref, "mongo", "*", "*", "*.ttl.gz")],
            {**inp.json_docs, **inp.seg_docs, **inp.mongo_docs},
        )
        for sub in ("json", "seg", "mongo"):
            self.refs[sub] = digests(os.path.join(self.ref, sub))

    def warm(self) -> dict[str, float]:
        """First call of every operation (cold), written to the
        reference directory; returns each one's wall time."""
        cold = {}
        for name, fn, sub in (
            ("json_etl", self._json, "json"),
            ("segmentation_etl", self._seg, "seg"),
            ("mongo_etl", self._mongo, "mongo"),
        ):
            t = time.perf_counter()
            fn(os.path.join(self.ref, sub))
            cold[name] = time.perf_counter() - t
        self.reference()
        for name, fn, sub, check in (
            ("hash_rewrite", self._hash, "rehash", self._check_hash),
            ("ttl_load", self._ttl_load, "triples", self._check_ttl_load),
        ):
            out = os.path.join(self.ref, sub)
            t = time.perf_counter()
            fn(out)
            cold[name] = time.perf_counter() - t
            check(out)
        return cold

    # -- traced decompositions ----------------------------------------------
    def _traced_pipeline(self, tracer, key: str, stages, render, run, out):
        """The operation itself, then its prefixes, each materialized
        with the noop sink. ``stages`` is a chain of (span name, frame)
        that starts with the source scan and adds one engine call at a
        time; a stage's time is its materialization minus the previous
        one's. Then the pipeline's own render: build (the call that
        returns the lazy frame) and render (its materialization minus
        the scan). The sink is what the run takes beyond the render."""
        t = {}

        def timed(name, fn):
            with tracer.span(name):
                s0 = time.perf_counter()
                result = fn()
                t[name] = time.perf_counter() - s0
            return result

        c0 = tree_cpu_s()
        timed(f"pipelines.{key}.run", lambda: run(out))
        cpu_s = tree_cpu_s() - c0
        d, prev = {}, 0.0
        for name, frame in stages:
            timed(name, lambda: _noop(frame()))
            d[f"{name}_s"] = max(t[name] - prev, 0.0)
            prev = t[name]
        docs = timed(f"pipelines.{key}.build", render)
        timed(f"pipelines.{key}.render", lambda: _noop(docs))
        run_s, scan_s = t[f"pipelines.{key}.run"], t[stages[0][0]]
        build_s, render_total = t[f"pipelines.{key}.build"], t[f"pipelines.{key}.render"]
        return {
            **d,
            "scan_s": scan_s,
            "build_s": build_s,
            "render_s": max(render_total - scan_s, 0.0),
            "sink_s": max(run_s - render_total - build_s, 0.0),
            "op_s": run_s,
            "cpu_s": cpu_s,
        }

    def ops(self, tracer) -> list[Op]:
        from pyspark.sql import functions as F

        from geosparql_etl_spark.functions.geometry import (
            denormalized_polygon_wkt,
            parse_polygon_string_wkt,
            polygon_wkt,
        )
        from geosparql_etl_spark.operators.batching import with_batch_id
        from geosparql_etl_spark.operators.render import ordered_concat
        from geosparql_etl_spark.pipelines import json_etl, mongo_etl, segmentation_etl
        from geosparql_etl_spark.sources.geojson import read_geojson_features
        from geosparql_etl_spark.sources.mongo import read_analyses, read_marks
        from geosparql_etl_spark.sources.segmentation import read_patch_csvs

        spark, inp = self.spark, self.inp
        mcfg = self._mongo_config("unused").mongo
        concat = "operators.render.ordered_concat"

        def tr_json(out):
            def feats():
                return read_geojson_features(spark, inp.json_dir)

            def wkt():
                return feats().withColumn("wkt", polygon_wkt(F.col("coordinates")))

            return self._traced_pipeline(
                tracer, "json_etl",
                [("sources.geojson.scan", feats),
                 ("functions.geometry.polygon_wkt", wkt),
                 (concat, lambda: wkt().groupBy("source_file").agg(
                     ordered_concat(F.col("feature_idx"), F.col("wkt"), ";\n")))],
                lambda: json_etl.render_ttl_documents(feats(), gen.TIMESTAMP_JSON),
                self._json, out)

        def tr_seg(out):
            def patches():
                return read_patch_csvs(spark, inp.seg_dir)

            def wkt():
                return patches().withColumn("wkt", parse_polygon_string_wkt(F.col("Polygon")))

            return self._traced_pipeline(
                tracer, "segmentation_etl",
                [("sources.segmentation.scan", patches),
                 ("functions.geometry.parse_polygon_string_wkt", wkt),
                 (concat, lambda: wkt().groupBy("image_name", "csv_name").agg(
                     ordered_concat(F.col("row_seq"), F.col("wkt"), ";\n")))],
                lambda: segmentation_etl.render_ttl_documents(patches(), gen.TIMESTAMP_SEG),
                self._seg, out)

        def tr_mongo(out):
            geom = F.get(F.col("geometries.features"), 0)["geometry"]

            def marks():
                # the marks scan only: analyses are one row per analysis
                return read_marks(spark, mcfg)

            def wkt():
                return marks().select(
                    "_id", F.col("provenance.image.imageid").alias("image_id"),
                    denormalized_polygon_wkt(geom["type"], geom["coordinates"],
                                             F.lit(40000.0), F.lit(40000.0)).alias("wkt"))

            def batched():
                return with_batch_id(wkt(), ["image_id"], "_id")

            return self._traced_pipeline(
                tracer, "mongo_etl",
                [("sources.mongo.scan", marks),
                 ("functions.geometry.denormalized_polygon_wkt", wkt),
                 ("operators.batching.with_batch_id", batched),
                 (concat, lambda: batched().groupBy("image_id", "batch_id").agg(
                     ordered_concat(F.col("seq_in_group"), F.col("wkt"), "")))],
                lambda: mongo_etl.render_ttl_documents(
                    read_analyses(spark, mcfg), read_marks(spark, mcfg)),
                self._mongo, out)

        def tr_hash(out):
            from geosparql_etl_spark.sources.ttl import read_ttl_documents

            mongo_glob = os.path.join(self.ref, "mongo", "*", "*", "*.ttl.gz")
            return self._traced_pipeline(
                tracer, "hash_update",
                [("sources.ttl.scan", lambda: read_ttl_documents(spark, mongo_glob))],
                self._rehashed,
                self._hash, out)

        def tr_ttl(out):
            from geosparql_etl_spark.sinks.parquet import write_partitioned

            with tracer.span("sinks.parquet.write"):
                c0, s0 = tree_cpu_s(), time.perf_counter()
                write_partitioned(self._triples(), out, ["predicate"])
                run, cpu_s = time.perf_counter() - s0, tree_cpu_s() - c0
            with tracer.span("sources.turtle.parse"):
                s0 = time.perf_counter()
                _noop(self._triples())
                parse = time.perf_counter() - s0
            return {"parse_s": parse, "write_s": max(run - parse, 0.0), "op_s": run,
                    "cpu_s": cpu_s}

        def same(sub):
            return lambda out, _=None: _expect_same(out, self.refs[sub])

        def op(name, run, check, traced):
            def traced_checked(out):
                d = traced(out)
                check(out, None)
                return d

            return Op(name, run, check, traced_checked)

        return [
            op("json_etl", self._json, same("json"), tr_json),
            op("segmentation_etl", self._seg, same("seg"), tr_seg),
            op("mongo_etl", self._mongo, same("mongo"), tr_mongo),
            op("hash_rewrite", self._hash, self._check_hash, tr_hash),
            op("ttl_load", self._ttl_load, self._check_ttl_load, tr_ttl),
        ]

    def layer_metrics(self, traced: dict[str, list[dict]], median) -> dict[str, float]:
        """Per-layer metrics from the traced decompositions."""
        m: dict[str, float] = {}

        def med(op, key):
            vals = [d[key] for d in traced.get(op, []) if key in d]
            return median(vals) if vals else 0.0

        pipelines = ("json_etl", "segmentation_etl", "mongo_etl")
        for op, src in zip(pipelines, ("geojson", "segmentation", "mongo")):
            m[f"sources.{src}.scan_s"] = med(op, "scan_s")
            m[f"pipelines.{op}.build_s"] = med(op, "build_s")
            m[f"pipelines.{op}.render_s"] = med(op, "render_s")
        for op, fn in zip(pipelines, self.geometry_functions):
            m[f"functions.geometry.{fn}_s"] = med(op, f"functions.geometry.{fn}_s")
        m["operators.render.ordered_concat_s"] = sum(
            med(op, "operators.render.ordered_concat_s") for op in pipelines)
        m["operators.batching.with_batch_id_s"] = med(
            "mongo_etl", "operators.batching.with_batch_id_s")
        m["pipelines.hash_update.rewrite_s"] = med("hash_rewrite", "build_s") + med(
            "hash_rewrite", "render_s")
        m["sources.turtle.parse_s"] = med("ttl_load", "parse_s")
        m["sinks.parquet.write_s"] = med("ttl_load", "write_s")
        m["sinks.ttl.write_s"] = sum(med(op, "sink_s") for op in (*pipelines, "hash_rewrite"))
        # bytes the TTL sinks wrote in the warm-up (the samples must match them)
        written = 0
        for sub in ("json", "seg", "mongo", "rehash"):
            root = os.path.join(self.ref, sub)
            written += sum(os.path.getsize(os.path.join(root, rel)) for rel in _rel_files(root))
        m["sinks.ttl.bytes"] = float(written)
        m["sinks.ttl.bytes_per_row"] = written / self.records
        return m


# --------------------------------------------------------------- geosparql


class GeosparqlQuery:
    """The read path: SPARQL over the Turtle the pipelines wrote,
    loaded once into a cached triple store during setup."""

    name = "geosparql_query"
    op_names = KINDS
    # one warm untraced cycle with its checks, 4 cores, on a slow spell
    # of the shared host (1.8 s on a fast one)
    nominal_cycle_s = 3.3
    # an untimed cycle after the cold calls: a query's time falls most
    # over its first calls while the JVM compiles its hot paths
    # (zone_join 3.0 -> 2.3 -> 1.9 s), and how fast it falls depends on
    # how much CPU the host leaves the compiler threads
    warm_cycles = 1
    # once warm, the median of an operation's samples repeats from run
    # to run better than its best (five seeds, 4-vCPU VM, four samples
    # after two warm cycles: interquartile spread of pass_s 0.11 of its
    # median, against 0.17)
    pass_stat = "median"

    def __init__(self, spark, inp: gen.EtlInputs, ref_dir: str, seed: int):
        self.spark, self.inp, self.ref = spark, inp, ref_dir
        self.queries = build_queries(inp, seed)
        self.store = None

    def warm(self) -> dict[str, float]:
        from geosparql_etl_spark.pipelines import json_etl, segmentation_etl
        from geosparql_etl_spark.sparql import TripleStore

        cold = {}
        t = time.perf_counter()
        json_etl.run(self.spark, self.inp.json_dir, os.path.join(self.ref, "json"),
                     gen.TIMESTAMP_JSON)
        cold["json_etl"] = time.perf_counter() - t
        t = time.perf_counter()
        segmentation_etl.run(self.spark, self.inp.seg_dir, os.path.join(self.ref, "seg"),
                             gen.TIMESTAMP_SEG)
        cold["segmentation_etl"] = time.perf_counter() - t
        _expect_names(os.path.join(self.ref, "json"), self.inp.json_docs)
        _expect_names(os.path.join(self.ref, "seg"), self.inp.seg_docs)
        t = time.perf_counter()
        tri = scoped_triples(
            self.spark,
            [os.path.join(self.ref, "json"), os.path.join(self.ref, "seg", "*", "*.ttl.gz")],
        ).cache()
        n = tri.count()
        cold["store_load"] = time.perf_counter() - t
        want = sum(self.inp.json_docs.values()) + sum(self.inp.seg_docs.values())
        if n != want:
            raise CheckFailed(f"store load: {n} triples, expected {want}")
        self.store = TripleStore.from_ntriples(tri)
        # every query of the mix runs once, so generated code and memos
        # are in place; a kind's cold time is its first query's
        for q in self.queries:
            t = time.perf_counter()
            rows = self._run(q)
            cold.setdefault(q.kind, time.perf_counter() - t)
            self._check(q, rows)
        return cold

    def _run(self, q: Query):
        from geosparql_etl_spark.sparql import sparql_select

        return sparql_select(self.store, q.text).collect()

    def _check(self, q: Query, rows) -> None:
        why = q.check(rows)
        if why:
            raise CheckFailed(why)

    def ops(self, tracer) -> list[Op]:
        from geosparql_etl_spark.sparql import parse_query, sparql_select

        def make(q: Query) -> Op:
            def traced(_out):
                k = f"sparql.{q.kind}"
                t = {}
                c0 = tree_cpu_s()
                with tracer.span(f"{k}.parse"):
                    s0 = time.perf_counter()
                    parse_query(q.text)
                    t["parse_s"] = time.perf_counter() - s0
                with tracer.span(f"{k}.compile"):
                    s0 = time.perf_counter()
                    df = sparql_select(self.store, q.text)
                    # sparql_select parses again before compiling
                    t["compile_s"] = max(time.perf_counter() - s0 - t["parse_s"], 0.0)
                with tracer.span(f"{k}.plan"):
                    s0 = time.perf_counter()
                    df._jdf.queryExecution().executedPlan()
                    t["plan_s"] = time.perf_counter() - s0
                with tracer.span(f"{k}.execute"):
                    s0 = time.perf_counter()
                    rows = df.collect()
                    t["execute_s"] = time.perf_counter() - s0
                t["cpu_s"] = tree_cpu_s() - c0
                self._check(q, rows)
                t["op_s"] = t["parse_s"] + t["compile_s"] + t["plan_s"] + t["execute_s"]
                return t

            return Op(q.kind, lambda _out: self._run(q), lambda _out, rows: self._check(q, rows),
                      traced)

        return [make(q) for q in self.queries]

    def layer_metrics(self, traced: dict[str, list[dict]], median) -> dict[str, float]:
        m = {}
        for kind in KINDS:
            for key in ("parse_s", "compile_s", "plan_s", "execute_s"):
                vals = [d[key] for d in traced.get(kind, [])]
                m[f"sparql.{kind}.{key}"] = median(vals) if vals else 0.0
        return m
