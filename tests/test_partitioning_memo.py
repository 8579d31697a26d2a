"""Round-14 optimization internals: pure-Column-tree memoization
(`memo_tree`), narrow-input spreading (`spread`), and the memoized IVF
probe / PQ-LUT builders in operators/similarity.

These are results-preserving plan-build optimizations; the tests pin
the two properties the optimizations rely on:

  1. memoization keys uniquely determine the tree — two DIFFERENT
     quantizers / codebooks must never alias to one memo entry (the
     numpy-repr elision trap: `repr(ndarray)` abbreviates long arrays
     with '...', so keys must be built from tolist());
  2. the memoized tree is context-free — reusing one tree across two
     different DataFrames computes exactly what a fresh build would.
"""

import math

import numpy as np
from pyspark.sql import functions as F

from geosparql_etl_spark.functions.geometry import _TREE_MEMO, memo_tree
from geosparql_etl_spark.operators.partitioning import spread
from geosparql_etl_spark.operators.similarity import (
    _probe_cells,
    pq_reconstruct,
)


def test_memo_tree_hit_and_miss(spark):
    calls = []

    def build():
        calls.append(1)
        return F.col("x") + F.lit(1)

    key = ("test_memo_tree_hit_and_miss", "x")
    _TREE_MEMO.pop(key, None)
    c1 = memo_tree(key, build)
    c2 = memo_tree(key, build)
    assert c1 is c2, "same key must return the identical Column object"
    assert len(calls) == 1, "build() must run once per key"
    key2 = ("test_memo_tree_hit_and_miss", "y")
    _TREE_MEMO.pop(key2, None)
    memo_tree(key2, lambda: F.col("y") + F.lit(1))
    assert len(calls) == 1


def test_memo_tree_is_bounded_under_distinct_windows(monkeypatch):
    """The SPARQL compiler memoizes each call by its AST, constants
    included, so a stream of distinct window queries brings a new key
    per query; the memo keeps only its cap of the most recently used."""
    from collections import OrderedDict

    from geosparql_etl_spark.functions import geometry
    from geosparql_etl_spark.sparql import compiler

    monkeypatch.setattr(geometry, "_TREE_MEMO", OrderedDict())
    # the keys are under test, not the (seconds-long) tree builds
    monkeypatch.setattr(compiler, "_compile_call_impl", lambda node: node)
    windows = [
        ("call", "geof:sfwithin", [
            ("var", "w"),
            ("str", f"POLYGON(({i} 0, {i + 4} 0, {i + 4} 3, {i} 3, {i} 0))"),
        ])
        for i in range(200)
    ]
    for node in windows:
        assert compiler._compile_call(node) is node
    memo = geometry._TREE_MEMO
    assert len(memo) == geometry._TREE_MEMO_SIZE < len(windows)
    assert ("sparql_call", repr(windows[-1])) in memo
    assert ("sparql_call", repr(windows[0])) not in memo
    # a hit refreshes its key: it survives the next insertions
    kept = windows[-geometry._TREE_MEMO_SIZE]
    compiler._compile_call(kept)
    compiler._compile_call(
        ("call", "geof:sfwithin", [("var", "w"), ("str", "new")])
    )
    assert ("sparql_call", repr(kept)) in memo


def test_memo_tree_is_context_free(spark):
    """One memoized tree evaluates correctly in two different frames."""
    key = ("test_memo_tree_ctx_free", "v")
    _TREE_MEMO.pop(key, None)
    tree = memo_tree(key, lambda: (F.col("v") * 2).alias("w"))
    df1 = spark.createDataFrame([(1,), (2,)], "v int")
    df2 = spark.createDataFrame([(10,), (20,)], "v int")
    assert sorted(r.w for r in df1.select(tree).collect()) == [2, 4]
    assert sorted(r.w for r in df2.select(tree).collect()) == [20, 40]


def test_spread_preserves_rows_and_widens(spark, tmp_path):
    p = str(tmp_path / "one_file")
    spark.range(100).coalesce(1).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)
    out = spread(df, target=4)
    assert sorted(r.id for r in out.collect()) == list(range(100))
    assert out.rdd.getNumPartitions() == 4


def test_spread_noop_on_wide_input(spark, tmp_path):
    p = str(tmp_path / "wide")
    spark.range(100).repartition(8).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)
    out = spread(df, target=4)
    # >= target/2 files: spread must not inject a shuffle
    assert out is df


def test_probe_frame_memo_distinguishes_quantizers(spark):
    """Two different centroid sets must probe different cells — the
    _probe_cells memo key is built from the full tolist() of the
    centroids, so near-identical quantizers never collide."""
    q = spark.createDataFrame([("q1", [1.0, 0.0])], "vec_id string, embedding array<double>")
    cents_a = np.array([[1.0, 0.0], [0.0, 1.0]])
    cents_b = np.array([[0.0, 1.0], [1.0, 0.0]])  # swapped order
    cell_a = q.select(_probe_cells("embedding", cents_a, 1)).collect()[0]["__cells"]
    cell_b = q.select(_probe_cells("embedding", cents_b, 1)).collect()[0]["__cells"]
    assert cell_a == [0] and cell_b == [1]

    # repeated build with the SAME quantizer is a memo hit (same plan)
    again = q.select(_probe_cells("embedding", cents_a, 1)).collect()[0]["__cells"]
    assert again == [0]


def test_pq_reconstruct_memo_distinguishes_codebooks(spark):
    """LUT memo keyed on the codebook VALUES (tolist, not numpy repr):
    two long codebooks differing only in elided middle entries must
    reconstruct differently."""
    k, sub = 64, 2
    books_a = np.zeros((1, k, sub))
    books_b = np.zeros((1, k, sub))
    # differ only at entry 32 — inside numpy repr's '...' elision zone
    books_a[0, 32] = [1.0, 2.0]
    books_b[0, 32] = [3.0, 4.0]
    df = spark.createDataFrame([([32],)], "code array<int>")
    ra = df.select(
        pq_reconstruct(F.col("code"), dim=sub, m=1, k=k, codebooks=books_a).alias("v")
    ).collect()[0]["v"]
    rb = df.select(
        pq_reconstruct(F.col("code"), dim=sub, m=1, k=k, codebooks=books_b).alias("v")
    ).collect()[0]["v"]
    assert list(ra) == [1.0, 2.0]
    assert list(rb) == [3.0, 4.0]


def test_cosine_topk_candidate_scan_matches_legacy_plan(spark):
    """The round-14 cosine_topk candidate scan (numpy per-batch top-k
    prefilter + exact fold on survivors) must reproduce the
    pairwise_cosine cross join + window exactly — including duplicate
    corpus ids (each ROW scored once), a null corpus vector (scored
    0.0), exact score ties (value-threshold cut keeps all), and
    multi-batch cuts (tiny Arrow batches force per-batch thresholds)."""
    from pyspark.sql import Window

    from geosparql_etl_spark.operators.similarity import (
        cosine_topk,
        pairwise_cosine,
    )

    rows = []
    for i in range(40):
        rows.append((i, [float((i % 7) - 3), float(i % 5), 1.0]))
    rows.append((7, [4.0, 0.0, 1.0]))      # duplicate id, different vector
    rows.append((41, None))                 # null vector -> 0.0
    rows.append((42, [1.0, 1.0, 1.0]))      # exact tie pair...
    rows.append((43, [1.0, 1.0, 1.0]))      # ...same vector, both rank
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.where(F.col("vec_id") < 3)

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "8")
    try:
        got = cosine_topk(df, q, k=5, dim=3).collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)

    scored = pairwise_cosine(q, df, dim=3)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    want = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .collect()
    )
    key = lambda r: (r.query_id, r.rank)  # noqa: E731
    got_m = {key(r): (r.neighbor_id, round(r.cosine_sim, 12)) for r in got}
    want_m = {key(r): (r.neighbor_id, round(r.cosine_sim, 12)) for r in want}
    assert got_m == want_m and len(got_m) == 15


def test_cosine_topk_scan_nan_and_invalid_rows(spark):
    """Round-15 edge semantics (the round-14 advice findings): a
    NaN-component corpus vector ranks FIRST (Spark desc treats NaN as
    greatest), a wrong-length vector scores NULL and ranks last, and a
    flood of invalid rows must never lift the per-batch cut above true
    top-k rows with NEGATIVE cosines."""
    from pyspark.sql import Window

    from geosparql_etl_spark.operators.similarity import (
        cosine_topk,
        pairwise_cosine,
    )

    rows = [(1, [float("nan"), 1.0])]
    rows += [(10 + i, [2.0, 3.0, 4.0]) for i in range(8)]  # wrong length
    # all real cosines NEGATIVE vs the query
    rows += [(30 + i, [-1.0, -float(i + 1)]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = spark.createDataFrame(
        [(100, [1.0, 1.0])], "vec_id long, embedding array<float>"
    )

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
    try:
        got = cosine_topk(df, q, k=4, dim=2).collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)

    scored = pairwise_cosine(q, df, dim=2)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    want = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 4)
        .collect()
    )
    import math

    def canon(r):
        v = r.cosine_sim
        v = "nan" if (v is not None and math.isnan(v)) else v
        return (r.query_id, r.rank, r.neighbor_id, v)

    assert sorted(map(canon, got)) == sorted(map(canon, want))
    # the NaN row must be rank 1 (reference semantics)
    assert [r.neighbor_id for r in want if r.rank == 1] == [1]
    assert any(r.neighbor_id == 1 and r.rank == 1 for r in got)


def _window_topk(scored, k, col="cosine_sim"):
    """Reference ranking: per query id, ``col`` desc then id asc."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc(col), F.asc("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def _canon_rows(rows):
    """Order-insensitive, NaN-comparable view of result rows."""
    import math

    def norm(v):
        return "NaN" if isinstance(v, float) and math.isnan(v) else v

    return sorted(tuple(norm(v) for v in r) for r in rows)


def test_cosine_topk_duplicate_query_ids_share_window(spark):
    """Query ROWS sharing an id are each scored against the corpus and
    share one window partition, exactly like pairwise_cosine + window:
    equal duplicates double every pair, different-vector duplicates
    compete in one top-k. NULL and wrong-length query vectors take the
    per-pair slow path (NULL -> 0.0 for every pair, wrong length ->
    NULL unless the corpus row has the same length)."""
    from geosparql_etl_spark.operators.similarity import (
        cosine_topk,
        pairwise_cosine,
    )

    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(10)]
        + [(20, [1.0, 2.0, 3.0]), (21, None)],
        "vec_id long, embedding array<float>",
    )
    q = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (1, [0.0, 1.0]),  # same id, different vector
            (2, [1.0, 1.0]),
            (2, [1.0, 1.0]),  # same id, same vector
            (3, None),  # NULL vector
            (4, [2.0, 1.0, 0.5]),  # wrong length (matches row 20)
        ],
        "vec_id long, embedding array<float>",
    )
    got = cosine_topk(df, q, k=3, dim=2).collect()
    want = _window_topk(pairwise_cosine(q, df, dim=2), 3).collect()
    assert _canon_rows(got) == _canon_rows(want)
    assert len(got) == 12
    # equal duplicates: the top pair comes back twice (ranks 1 and 2)
    assert sorted(r.rank for r in got if r.query_id == 2)[:2] == [1, 2]


def test_topk_scans_skip_null_and_self_ids_in_cut(spark):
    """More than k corpus rows that the final ``neighbor_id !=
    query_id`` filter drops (NULL ids, the query's own id) carry the
    query's own vector, so they outscore every real neighbor. They
    must not take the per-batch cut slots: the scans still return the
    k rows pairwise_cosine + window ranks."""
    from geosparql_etl_spark.operators import similarity as sim

    rows = [(None, [1.0, 1.0]) for _ in range(6)]
    rows += [(100, [1.0, 1.0]) for _ in range(3)]
    rows += [(i, [1.0, float(i) / 4.0]) for i in range(1, 9)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = spark.createDataFrame(
        [(100, [1.0, 1.0])], "vec_id long, embedding array<float>"
    )
    want = _canon_rows(
        _window_topk(sim.pairwise_cosine(q, df, dim=2), 3).collect()
    )
    assert [r[1] for r in want] == [3, 4, 5]
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
    try:
        got = sim.cosine_topk(df.coalesce(1), q, k=3, dim=2).collect()
        probe = sim.ivf_topk(
            df.coalesce(1), q, k=3, dim=2, n_cells=1, n_probe=1
        ).collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    assert _canon_rows(got) == want
    assert _canon_rows(probe) == want


def _seq(a, b):
    """The JVM dot fold in plain Python: sequential double adds, NULL
    when a side is NULL or the lengths differ."""
    if a is None or b is None or len(a) != len(b):
        return None
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + float(x) * float(y)
    return acc


def _round6(x):
    """Spark's round(x, 6) on a double (HALF_UP over its decimal
    string)."""
    from decimal import ROUND_HALF_UP, Decimal

    if x is None:
        return None
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def _exact_cos(q, v):
    qq, vv = _seq(q, q), _seq(v, v)
    if qq is None or vv is None:
        return 0.0
    den = math.sqrt(qq) * math.sqrt(vv)
    if not den > 0:
        return 0.0
    d = _seq(q, v)
    return None if d is None else d / den


def _adc_d2(q, code, books):
    rv = [float(x) for j, c in enumerate(code) for x in books[j][c]]
    qq, d, rr = _seq(q, q), _seq(q, rv), _seq(rv, rv)
    return None if qq is None or d is None else (qq - 2.0 * d) + rr


def _take(pairs, n, key):
    """Per query id, the first ``n`` pairs by ``key`` with 1-based
    rank appended (the reference window)."""
    by_q = {}
    for p in pairs:
        by_q.setdefault(p[0], []).append(p)
    out = []
    for ps in by_q.values():
        ps.sort(key=key)
        out += [p + (i + 1,) for i, p in enumerate(ps[:n])]
    return out


def _asc_null_first(p):
    return (p[2] is not None, p[2] if p[2] is not None else 0.0, p[1])


def _desc_null_last(p):
    return (p[2] is None, -p[2] if p[2] is not None else 0.0, p[1])


def _pq_brute(corpus, qrows, books, kq):
    pairs = [
        (qid, nid, _round6(_adc_d2(qv, code, books)))
        for qid, qv in qrows
        for nid, _, code, _ in corpus
        if nid != qid
    ]
    return _take(pairs, kq, _asc_null_first)


def _ivfpq_brute(corpus, qrows, books, cents, n_probe, shortlist, kq):
    short = []
    for qid, qv in qrows:
        scores = [_seq(qv, c) for c in cents]
        probes = sorted(
            range(len(cents)),
            key=lambda i: (scores[i] is not None, scores[i] or 0.0, i),
            reverse=True,
        )[:n_probe]
        short += [
            (qid, nid, _round6(_adc_d2(qv, code, books)), qv, v)
            for nid, v, code, cell in corpus
            if cell in probes and nid != qid
        ]
    short = _take(short, shortlist, _asc_null_first)
    exact = [
        (qid, nid, _round6(_exact_cos(qv, v))) for qid, nid, _, qv, v, _ in short
    ]
    return _take(exact, kq, _desc_null_last)


def test_pq_and_ivfpq_scan_match_brute_force(spark, sf_dir):
    """The ADC codes scans (LUT prefilter + bit-exact seq-fold
    distances) must reproduce a plain-Python brute force exactly: the
    rounded approx_d2 OUTPUT values (pq_topk) and the composed
    shortlist -> exact re-score (ivf_pq_topk), with duplicate query
    ids (equal and different vectors; duplicates share one window and
    the exact stage re-scores each pair with its own row's vector) and
    NULL / wrong-width query vectors (NULL distance for every pair)."""
    import geosparql_etl_spark.operators.similarity as sim

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    base = e.where(F.col("vec_id") < 6)
    odd = spark.createDataFrame(
        [(9001, None), (9002, [1.0, 2.0])], e.schema
    )
    q = (
        base.union(base.where(F.col("vec_id") == 1))
        .union(
            base.where(F.col("vec_id") == 2).withColumn(
                "embedding", F.reverse("embedding")
            )
        )
        .union(odd)
    )
    qrows = [(r.vec_id, r.embedding) for r in q.collect()]

    books = sim._pq_codebooks(64, 8, 16)
    corpus = [
        (r.vec_id, list(r.embedding), list(r.pq_code), None)
        for r in sim.with_pq_code(e, "embedding", 64, 8, 16).collect()
    ]
    got_pq = [tuple(r) for r in sim.pq_topk(e, q, kq=5).collect()]
    assert _canon_rows(got_pq) == _canon_rows(_pq_brute(corpus, qrows, books, 5))
    assert len(got_pq) == 8 * 5  # duplicates share their id's window

    cents = sim._ivf_centroids(64, 16)
    celled = sim.with_pq_code(
        sim.with_ivf_cell(e, "embedding", 64, 16), "embedding", 64, 8, 16
    )
    corpus = [
        (r.vec_id, list(r.embedding), list(r.pq_code), r.ivf_cell)
        for r in celled.collect()
    ]
    got_ivf = [
        tuple(r)
        for r in sim.ivf_pq_topk(
            e, q, kq=4, shortlist=15, n_probe=3, m=8, k=16
        ).collect()
    ]
    want_ivf = _ivfpq_brute(corpus, qrows, books, cents, 3, 15, 4)
    assert _canon_rows(got_ivf) == _canon_rows(want_ivf) and len(got_ivf) > 0


def test_topk_scans_block_large_query_sides(spark, sf_dir, monkeypatch):
    """A query side larger than _TOPK_MAX_QUERIES is scored in blocks
    (one scan each, unioned before the window): same rows as the
    one-block scan, which the tests above pin to the references."""
    import geosparql_etl_spark.operators.similarity as sim

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    q = e.where(F.col("vec_id") < 8)
    q = q.union(q.where(F.col("vec_id") == 3))  # a duplicate straddles
    runs = {
        "cos": lambda: sim.cosine_topk(e, q, k=5, dim=64),
        "ivf": lambda: sim.ivf_topk(e, q, k=5, dim=64, n_probe=2),
        "pq": lambda: sim.pq_topk(e, q, kq=5),
        "ivfpq": lambda: sim.ivf_pq_topk(e, q, kq=4, shortlist=15),
    }
    one = {n: _canon_rows(f().collect()) for n, f in runs.items()}
    monkeypatch.setattr(sim, "_TOPK_MAX_QUERIES", 4)
    for n, f in runs.items():
        df = f()
        plan = df._jdf.queryExecution().analyzed().toString()
        assert plan.count("MapInPandas") == 3, n  # 9 rows / 4 per block
        assert _canon_rows(df.collect()) == one[n] and one[n], n


def test_lsh_scorer_nan_pair_kept(spark):
    """A co-bucketed NaN-component pair must survive the scorer with a
    NaN cosine (Spark's `cosine >= t` is TRUE for NaN — NaN compares
    greatest; the legacy re-score join kept such pairs). Unit-level:
    the banded hash puts a NaN vector in the all-zero-bits bucket, so
    the pair is staged into one group directly."""
    import math

    import pandas as pd

    from geosparql_etl_spark.operators.similarity import (
        _SCAN_NAN,
        _bucket_pair_scorer,
        lsh_threshold_pairs,
    )

    pdf = pd.DataFrame(
        {
            "__id": [1, 2, 3],
            "__vec": [
                np.ones(4),
                np.array([np.nan, 1.0, 1.0, 1.0]),
                np.ones(4),
            ],
            "__ch": [0, 0, 0],
            "__bk": [5, 5, 5],
            "__ci": [0, 0, 0],
            "__cj": [0, 0, 0],
        }
    )
    out = _bucket_pair_scorer(0.9, "long")(pdf)
    got = {
        (a, b): f
        for a, b, f in zip(out["id_a"], out["id_b"], out["__flag"])
    }
    assert got[(1, 3)] == 0          # exact value, passes threshold
    assert got[(1, 2)] == _SCAN_NAN  # NaN pair kept, flagged
    assert got[(2, 3)] == _SCAN_NAN
    # end-to-end: a NaN vector in the corpus neither crashes the
    # banded path nor perturbs the clean pairs
    rows = [
        (1, [1.0] * 64),
        (2, [float("nan")] + [1.0] * 63),
        (3, [1.0] * 64),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {
        (r.id_a, r.id_b): r.cosine_sim
        for r in lsh_threshold_pairs(
            df, threshold=0.9, dim=64, bands=8, bits_per_band=2
        ).collect()
    }
    assert (1, 3) in pairs and pairs[(1, 3)] >= 0.9
    for v in pairs.values():
        assert v is not None and (v >= 0.9 or math.isnan(v))


def test_cell_max_lower_cosine_matches_legacy_join(spark, sf_dir):
    """The SemDeDup within-cell max-lower-cosine scorer (d18/llm25)
    must equal the legacy cell self-join + per-pair rounded fold +
    max aggregate bit for bit, including under forced multi-chunking."""
    import geosparql_etl_spark.operators.similarity as sim

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(300)
    c = sim.with_ivf_cell(e, "embedding", 64, 8).select(
        "vec_id", "embedding", "ivf_cell"
    )
    a = c.select(
        F.col("vec_id").alias("ia"), F.col("embedding").alias("va"), "ivf_cell"
    )
    b = c.select(
        F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"), "ivf_cell"
    )
    denom = sim.l2_norm(F.col("va"), 64) * sim.l2_norm(F.col("vb"), 64)
    rc = F.round(
        F.when(denom > 0, sim.dot(F.col("va"), F.col("vb"), 64) / denom)
        .otherwise(F.lit(0.0)),
        6,
    )
    want = sorted(
        tuple(r)
        for r in (
            a.join(b, "ivf_cell")
            .where(F.col("ib") < F.col("ia"))
            .select(F.col("ia").alias("vec_id"), rc.alias("rc"))
            .groupBy("vec_id")
            .agg(F.max("rc").alias("max_lower_cos"))
        ).collect()
    )
    got = sorted(
        tuple(r)
        for r in sim.cell_max_lower_cosine(
            c, "vec_id", "embedding", "ivf_cell", 64
        ).collect()
    )
    assert got == want and len(got) > 0
    import pytest as _pytest

    mp = _pytest.MonkeyPatch()
    try:
        mp.setattr(sim, "_LSH_SCORE_CHUNK", 5)
        multi = sorted(
            tuple(r)
            for r in sim.cell_max_lower_cosine(
                c, "vec_id", "embedding", "ivf_cell", 64
            ).collect()
        )
    finally:
        mp.undo()
    assert multi == want


def _probe_reference(corpus, queries, cents, n_probe, k, carry=()):
    """Brute-force IVF probe: every (query row, corpus row) pair whose
    corpus cell is one of the query row's probed cells, scored with the
    public cosine() expression, ranked by the reference window."""
    import geosparql_etl_spark.operators.similarity as sim

    cb = sim.with_ivf_cell(
        corpus, "embedding", len(cents[0]), len(cents), centroids=cents
    ).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("__cv"),
        "ivf_cell",
        *carry,
    )
    qb = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qv"),
        _probe_cells("embedding", cents, n_probe),
    )
    pairs = cb.crossJoin(qb).where(
        F.array_contains("__cells", F.col("ivf_cell"))
        & (F.col("neighbor_id") != F.col("query_id"))
    )
    return _window_topk(
        pairs.select(
            "query_id",
            "neighbor_id",
            sim.cosine(F.col("__qv"), F.col("__cv")).alias("cosine_sim"),
            *carry,
        ),
        k,
    )


def test_probe_topk_scan_matches_reference(spark, sf_dir, tmp_path):
    """The probe cell-cosine scan (exact seq-order cosine emitted inside
    a MapInPandas pass over the celled corpus) must reproduce the
    brute-force probe exactly: carry_cols, persisted STORED norms used
    verbatim, NaN-component corpus vectors (Spark NaN-greatest: denom
    NaN > 0 is true, cosine NaN ranks first), and duplicate query ids
    (equal and different vectors) scored per row in one window."""
    import geosparql_etl_spark.operators.similarity as sim

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    el = e.withColumn("label", (F.col("vec_id") % 3).cast("string"))
    q = e.where(F.col("vec_id") < 8)
    cents = sim._ivf_centroids(64, 16)

    got = sim.ivf_topk(
        el, q, k=6, dim=64, n_cells=16, n_probe=2, carry_cols=("label",)
    ).collect()
    want = _probe_reference(el, q, cents, 2, 6, carry=("label",)).collect()
    assert _canon_rows(got) == _canon_rows(want) and len(got) > 0

    idx = str(tmp_path / "probe_scan_idx")
    sim.write_ivf_index(e, idx, dim=64, n_cells=16)
    got = sim.ivf_index_topk(
        spark, idx, q, k=7, dim=64, n_cells=16, n_probe=3
    ).collect()
    want = _probe_reference(e, q, cents, 3, 7).collect()
    assert _canon_rows(got) == _canon_rows(want) and len(got) > 0

    # NaN corpus vector: the scan must carry the NaN pair exactly like
    # the reference (NaN cosine sorts FIRST under desc — dropping it
    # would promote a different neighbor)
    rows = [(i, [float(i % 7 + 1)] * 64) for i in range(1, 30)]
    rows.append((30, [float("nan")] + [1.0] * 63))
    nf = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    nq = nf.where(F.col("vec_id") <= 3)
    got = _canon_rows(
        sim.ivf_topk(nf, nq, k=5, dim=64, n_cells=4, n_probe=4).collect()
    )
    want = _canon_rows(
        _probe_reference(nf, nq, sim._ivf_centroids(64, 4), 4, 5).collect()
    )
    assert got == want and len(got) > 0
    assert any("NaN" in r for r in got), "NaN pair must survive the scan"

    # duplicate query ids, equal and different vectors: each row is
    # scored against its own probed cells, one window per id
    dq = q.union(q.where(F.col("vec_id") < 4)).union(
        q.withColumn("embedding", F.reverse(F.col("embedding")))
    )
    got = sim.ivf_topk(e, dq, k=4, dim=64, n_cells=16, n_probe=2).collect()
    want = _probe_reference(e, dq, cents, 2, 4).collect()
    assert _canon_rows(got) == _canon_rows(want) and len(got) == 8 * 4
