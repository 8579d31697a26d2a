"""Similarity search over an embedding column (array<float>).

Engine charter operators (no reference counterpart).

  - top-k operators (cosine_topk, the IVF probes, pq_topk, the
    composed IVF-PQ paths): ONE arm each. The query side is tiny by
    contract and is collected once (_query_rows); one vectorized Arrow
    scan of the corpus per block of at most _TOPK_MAX_QUERIES query
    rows scores every (row, query) pair in numpy, keeps per (query,
    batch) only the rows that can still reach that query's top-k, and
    emits the EXACT value the JVM fold defines (seq_dot replays its
    IEEE-754 operation order); a per-query window ranks the
    survivors. ``pairwise_cosine`` + window is the brute-force
    reference they all reproduce.

  - sign-LSH bucketed ANN: the 100 TB path. Deterministic random
    hyperplanes (seeded, driver-generated) hash each vector to band
    buckets via ONE vectorized matmul per Arrow batch (pandas_udf);
    co-bucketed pairs are scored exactly in a grouped scan. Recall
    tunes with bands x bits.
"""

from __future__ import annotations

import functools
import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from geosparql_etl_spark.operators.partitioning import spread
from geosparql_etl_spark.util import local_frame


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Sequential-fold dot product (deterministic summation order).

    The fold beats an unrolled get(a,i)*get(b,i) sum for attribute
    arrays (measured 5.4s vs 8.3s on 4M 64-dim pairs): the fold walks
    the two ArrayData buffers once, while each get() re-checks bounds
    and nullability. ``dim`` is accepted for API stability but the fold
    is used either way.
    """
    del dim
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column, dim: int | None = None) -> Column:
    del dim
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column, dim: int | None = None) -> Column:
    denom = l2_norm(a, dim) * l2_norm(b, dim)
    return F.when(denom > 0, dot(a, b, dim) / denom).otherwise(F.lit(0.0))


def pairwise_cosine(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    left_alias: str = "query_id",
    right_alias: str = "neighbor_id",
    broadcast_left: bool = True,
    dim: int | None = None,
) -> DataFrame:
    """(left_id, right_id, cosine_sim) for the cross product, excluding
    self-pairs.

    Norms are computed ONCE per vector below the join (HOF lambdas are
    interpreted and every expression reference re-evaluates, so writing
    cosine(a, b) per pair costs three folds; dot/(na*nb) with
    pre-joined norms costs one — measured ~3x on the pairwise bench).
    Division order matches cosine() exactly: dot / (norm_a * norm_b).
    """
    l = left.select(
        F.col(id_col).alias(left_alias),
        F.col(vec_col).alias("__lv"),
        l2_norm(F.col(vec_col), dim).alias("__ln"),
    )
    r = right.select(
        F.col(id_col).alias(right_alias),
        F.col(vec_col).alias("__rv"),
        l2_norm(F.col(vec_col), dim).alias("__rn"),
    )
    joined = spread(r).crossJoin(F.broadcast(l) if broadcast_left else l).where(
        F.col(right_alias) != F.col(left_alias)
    )
    denom = F.col("__ln") * F.col("__rn")
    sim = F.when(denom > 0, dot(F.col("__lv"), F.col("__rv"), dim) / denom).otherwise(
        F.lit(0.0)
    )
    return joined.select(left_alias, right_alias, sim.alias("cosine_sim"))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for every query row.

    Returns (query_id, neighbor_id, cosine_sim, rank); self-matches are
    excluded; ties broken by neighbor id so output is deterministic.

    One vectorized Arrow scan of the corpus keeps, per (query, batch),
    only the rows a margin-safe numpy cosine cannot exclude from that
    query's top-k and emits their exact cosine (see _topk_candidates
    for the order-statistics margin proof); the window ranks those
    candidates, so the output equals ``pairwise_cosine`` + window.
    Query rows sharing an id are scored per row and share one window
    partition, as in the cross join. ``dim`` is accepted for API
    stability (the fold is length-generic).
    """
    del dim
    scored = _topk_candidates(corpus, queries, id_col, vec_col, k).where(
        F.col("neighbor_id") != F.col("query_id")
    ).select("query_id", "neighbor_id", _scan_value("cosine_sim"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


# Query-side block size of the top-k scans: a query side this large or
# larger is scored in blocks of this many rows, one corpus scan per
# block, so each task's (batch x queries) matrices stay bounded.
_TOPK_MAX_QUERIES = 8192

_TOPK_SCAN_MEMO: dict = {}
_SCAN_MEMO_MAX = 64


def _memo_put(memo: dict, key, value):
    """Unbounded per-process scan memos leak on long-lived drivers
    issuing many distinct query sets — clear-at-cap keeps the hit rate
    for the repeated-build case (the only one that matters) at zero
    steady-state cost."""
    if len(memo) >= _SCAN_MEMO_MAX:
        memo.clear()
    memo[key] = value
    return value


def _memo_scan(memo: dict, key, make):
    """``memo[key]``, built by ``make()`` on a miss — repeated builds
    reuse one scan function, so their plan trees are byte-identical."""
    hit = memo.get(key)
    return hit if hit is not None else _memo_put(memo, key, make())


def _query_rows(queries: DataFrame, id_col: str, vec_col: str, cells=None):
    """The ONE query-side collect of every top-k scan: per query ROW
    (query_id, __qv, __qq = dot(v, v), __qn = l2_norm(v)[, __cells]),
    with the norms from the JVM expressions the reference plans use.
    ``cells`` is the _probe_cells column of the IVF paths; their
    partition-prune cell list comes from these same rows.

    Query sides are tiny by operator contract, so the driver holds no
    more than a broadcast of the query side would. No exception is
    swallowed: a query side that cannot be collected could not be
    broadcast either. Collecting once also makes every stage of a
    composed operator see ONE evaluation of a nondeterministic
    ``queries`` frame."""
    cols = [
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        dot(F.col(vec_col), F.col(vec_col)).alias("__qq"),
        l2_norm(F.col(vec_col)).alias("__qn"),
    ]
    if cells is not None:
        cols.append(cells)
    return queries.select(*cols).collect()


def _probed_cells(rows) -> list:
    """Sorted union of the collected rows' probed cells (the partition
    filter of the persisted-index probes)."""
    return sorted({c for r in rows for c in r["__cells"]})


class _QueryBlock:
    """numpy view of one block of collected query rows, shipped into a
    scan. ``full`` marks the rows the vectorized arm scores: a
    ``dim``-wide vector with a non-NULL norm. The rest (NULL,
    wrong-width or NULL-element vectors) keep their raw list in
    ``odd`` for the per-pair slow paths. ``row0`` is the block's offset
    in the collected rows (the scans that re-attach query vectors emit
    it as ``__qrow``)."""

    def __init__(self, rows, dim: int, row0: int = 0):
        nq = len(rows)
        self.ids = [r["query_id"] for r in rows]
        self.row0 = row0
        self.mat = np.zeros((nq, dim), dtype=np.float64)
        self.full = np.zeros(nq, dtype=bool)
        self.odd: dict = {}
        for i, r in enumerate(rows):
            v = r["__qv"]
            if v is not None and len(v) == dim and r["__qn"] is not None:
                self.mat[i] = v
                self.full[i] = True
            else:
                self.odd[i] = None if v is None else list(v)
        self.qn_null = np.asarray([r["__qn"] is None for r in rows], dtype=bool)
        self.qn = np.asarray(
            [np.nan if r["__qn"] is None else r["__qn"] for r in rows],
            dtype=np.float64,
        )
        self.qq = np.asarray(
            [np.nan if r["__qq"] is None else r["__qq"] for r in rows],
            dtype=np.float64,
        )
        self.cells = (
            [tuple(r["__cells"]) for r in rows]
            if rows and "__cells" in rows[0].__fields__
            else None
        )

    def vec(self, qi: int):
        return self.odd[qi] if qi in self.odd else self.mat[qi]

    def id_series(self) -> pd.Series:
        # a NULL id would turn an integer Series into float64
        return pd.Series(self.ids, dtype=object if None in self.ids else None)

    def norm(self, qi: int):
        return None if self.qn_null[qi] else self.qn[qi]

    def cell_queries(self) -> dict:
        """cell -> array of the block's query columns probing it."""
        out: dict = {}
        for qi, cells in enumerate(self.cells):
            for c in cells:
                out.setdefault(c, []).append(qi)
        return {c: np.asarray(v) for c, v in out.items()}

    def key(self, *extra) -> bytes:
        return hashlib.sha256(
            repr(
                (
                    self.ids,
                    self.row0,
                    self.mat.tobytes(),
                    self.full.tobytes(),
                    self.odd,
                    self.qn_null.tobytes(),
                    self.qn.tobytes(),
                    self.qq.tobytes(),
                    self.cells,
                    extra,
                )
            ).encode()
        ).digest()


def _scan_blocks(rows, dim: int, build) -> DataFrame:
    """Union of ``build(block)`` over the query rows in blocks of at
    most _TOPK_MAX_QUERIES rows. An empty query side is one empty
    block (its scan emits nothing)."""
    step = _TOPK_MAX_QUERIES
    frames = [
        build(_QueryBlock(rows[i : i + step], dim, i))
        for i in range(0, max(len(rows), 1), step)
    ]
    return functools.reduce(DataFrame.union, frames)


def _pairable(ids: np.ndarray, blk: _QueryBlock) -> np.ndarray:
    """(rows, queries) mask of the pairs that survive the later
    ``neighbor_id != query_id`` filter: a non-NULL corpus id other than
    the query's own. The scans never emit the other pairs and never
    let them take a per-batch cut slot, where they could evict a true
    top-k row."""
    ok = np.ones((len(ids), len(blk.ids)), dtype=bool)
    ok[pd.isnull(ids)] = False
    pos: dict = {}
    for qi, q in enumerate(blk.ids):
        if q is None:
            ok[:, qi] = False
        else:
            pos.setdefault(q, []).append(qi)
    if pos:
        for r in np.flatnonzero(pd.Series(ids).isin(list(pos)).to_numpy()):
            ok[r, pos[ids[r]]] = False
    return ok


def seq_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Bit-exact replica of ``dot()``'s sequential JVM fold, vectorized
    ACROSS rows: the fold computes ((0.0 + a0*b0) + a1*b1) + ... in
    IEEE-754 doubles; this loop performs the same double ops in the
    same order per row (numpy float64 add/mul are IEEE-754, no FMA
    fusion), so the result equals the JVM fold bit for bit. The
    float->double element casts are exact, so pre-widening the inputs
    to float64 changes nothing."""
    n = a.shape[0]
    acc = np.zeros(n, dtype=np.float64)
    for i in range(a.shape[1]):
        acc = acc + a[:, i] * b[:, i]
    return acc


def seq_norm(a: np.ndarray) -> np.ndarray:
    """Bit-exact replica of ``l2_norm()``'s sequential fold + sqrt
    (np.sqrt and Java Math.sqrt are both correctly-rounded IEEE)."""
    return np.sqrt(seq_dot(a, a))


def _seq_dot_1(v, w) -> float | None:
    """Scalar seq_dot for the slow path: NULL when either side is NULL,
    the lengths differ (zip_with pads with NULL) or an element is
    NULL."""
    if v is None or w is None or len(v) != len(w):
        return None
    acc = 0.0
    for x, y in zip(v, w):
        if x is None or y is None:
            return None
        acc = acc + float(x) * float(y)
    return acc


def _pair_cosine(v, vn, q, qn) -> float | None:
    """Slow path: one pair's reference value,
    CASE WHEN qn*vn > 0 THEN dot(q, v)/(qn*vn) ELSE 0.0 END, where a
    NULL norm nulls the denominator (-> 0.0) and Spark's comparison
    treats a NaN denominator as > 0."""
    if vn is None or qn is None:
        return 0.0
    den = qn * vn
    if not (den > 0 or np.isnan(den)):
        return 0.0
    d = _seq_dot_1(q, v)
    return None if d is None else d / den


def _cosine_cut(cos, special, ok, k):
    """(row, query) index arrays of the pairs a cosine scan emits: per
    query column, every ``ok`` pair whose batch cosine can still reach
    the top k (margin proof in _topk_candidates), plus ``special`` rows
    and non-finite pairs — those are always kept and never lift the
    cut (their cut entry is -inf)."""
    always = special[:, None] | ~np.isfinite(cos)
    coscut = np.where(always | ~ok, -np.inf, cos)
    kth = min(k, len(cos) - 1)  # (k+1)-th largest, clamped to batch
    cuts = -np.partition(-coscut, kth, axis=0)[kth, :] - 1e-6
    return np.nonzero(ok & ((coscut >= cuts[None, :]) | always))


# Arrow's pandas conversion writes float NaN as SQL NULL (both float64
# and object dtype — verified on this Spark), so a scan that must emit
# exact doubles INCLUDING NaN/NULL encodes them in a flag column:
_SCAN_OK, _SCAN_NULL, _SCAN_NAN = 0, 1, 2


def _flag_encode(vals_obj: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(values float64, flags int8) for an object array of
    float|None|NaN scan results."""
    n = len(vals_obj)
    out = np.zeros(n, dtype=np.float64)
    flags = np.zeros(n, dtype=np.int8)
    for i, v in enumerate(vals_obj):
        if v is None:
            flags[i] = _SCAN_NULL
        elif np.isnan(v):
            flags[i] = _SCAN_NAN
        else:
            out[i] = v
    return out, flags


def _scan_raw() -> Column:
    """Decode (__cs, __flag) back into the exact double — NULL and NaN
    restored verbatim."""
    return (
        F.when(F.col("__flag") == _SCAN_NULL, F.lit(None).cast("double"))
        .when(F.col("__flag") == _SCAN_NAN, F.lit(float("nan")))
        .otherwise(F.col("__cs"))
    )


def _scan_value(name: str):
    return _scan_raw().alias(name)


def _topk_candidates(corpus, queries, id_col, vec_col, k):
    """(query_id, neighbor_id, __cs, __flag) superset of every query
    row's exact top-k, with the value ALREADY the exact reference
    cosine — one vectorized Arrow pass over the corpus per query block
    (guide §4.2), queries held as a numpy matrix.

    Two phases per (query, Arrow batch):

    1. Candidate cut on fast BLAS cosines. Margin proof: each float64
       batch cosine is within m' < 5e-7 of the exact sequential fold's
       value on unit-scale vectors. For a row r in batch B that belongs
       to query q's exact global top-k, at most k rows of B (k-1 others
       + possibly q itself) have exact cosine above r's, so the
       (k+1)-th largest exact value in B is <= exact(r); the (k+1)-th
       largest numpy value T is then <= exact(r) + m' <= numpy(r) +
       2m'. Keeping every row with numpy >= T - 1e-6 (margin > 2m')
       therefore retains r. Rows with null / wrong-length vectors and
       rows whose batch cosine is non-finite are ALWAYS kept and NEVER
       lift the cut (their cut entry is -inf): a NaN-vector row ranks
       FIRST under Spark's descending NaN ordering and a NULL-valued
       row ranks last — both must reach the window, not the cut. Rows
       with a NULL id or the query's own id are dropped by the caller's
       ``neighbor_id != query_id`` filter, so they take no cut slot.

    2. Exact value for every kept pair, replicating the reference
       expression  CASE WHEN qn*rn > 0 THEN dot/ (qn*rn) ELSE 0.0 END
       bit for bit (seq_dot / seq_norm reproduce the fold's operation
       order; Spark's comparison treats NaN as greater than any value,
       so a NaN denominator takes the THEN branch; a null vector on
       either side nulls the denominator and yields 0.0; a length
       mismatch nulls only the dot and yields NULL). Odd query rows
       (null, odd-length) score 0.0 in phase 1, so every pair of theirs
       is kept and valued by the per-pair slow path.

    Every corpus ROW and every query ROW is scored once (duplicate ids
    included), like the cross join; the cut is a VALUE threshold, so
    exact ties all pass.
    """
    rows = _query_rows(queries, id_col, vec_col)
    lens = [len(r["__qv"]) for r in rows if r["__qv"] is not None]
    qdim = max(lens) if lens else 1
    schema = (
        f"query_id {dict(queries.dtypes)[id_col]}, "
        f"neighbor_id {dict(corpus.dtypes)[id_col]}, "
        "__cs double, __flag tinyint"
    )
    inp = spread(
        corpus.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    )

    def block_scan(blk):
        scan = _memo_scan(
            _TOPK_SCAN_MEMO,
            blk.key("topk", int(k), schema, id_col, vec_col),
            lambda: _cosine_scan_fn(blk, k),
        )
        return inp.mapInPandas(scan, schema)

    return _scan_blocks(rows, qdim, block_scan)


def _cosine_scan_fn(blk: _QueryBlock, k: int):
    """mapInPandas scorer of _topk_candidates for one query block."""
    qmat = blk.mat
    qdim = qmat.shape[1]
    nq = len(blk.ids)
    qnorm = np.sqrt(np.einsum("ij,ij->i", qmat, qmat))  # phase-1 only

    def scan(batches):
        q_arr = blk.id_series()
        for pdf in batches:
            n = len(pdf)
            if n == 0 or nq == 0:
                continue
            vals = pdf["__v"].to_numpy()
            ids = pdf["__id"].to_numpy()
            mat = np.zeros((n, qdim), dtype=np.float64)
            full = np.zeros(n, dtype=bool)
            for i, v in enumerate(vals):
                if v is not None and len(v) == qdim:
                    mat[i] = v
                    full[i] = True
            denom = np.outer(np.sqrt(np.einsum("ij,ij->i", mat, mat)), qnorm)
            # Spark's `denom > 0` is TRUE for NaN (NaN compares
            # greatest), so a NaN denominator must yield NaN here
            # too — np.where(denom > 0, ...) would mask it to 0.0
            # and phase 1 could silently cut a row the reference
            # ranks FIRST
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(
                    (denom > 0) | np.isnan(denom), (mat @ qmat.T) / denom, 0.0
                )
            ri, qi = _cosine_cut(cos, ~full, _pairable(ids, blk), k)
            out = np.empty(len(ri), dtype=object)
            fast = full[ri] & blk.full[qi]
            if fast.any():
                fr, fq = ri[fast], qi[fast]
                d = seq_dot(mat[fr], qmat[fq])
                den = blk.qn[fq] * seq_norm(mat[fr])
                with np.errstate(invalid="ignore"):
                    out[fast] = np.where((den > 0) | np.isnan(den), d / den, 0.0)
            slow = ~fast
            if slow.any():
                out[slow] = [
                    _pair_cosine(
                        vals[r],
                        None
                        if vals[r] is None
                        else seq_norm(np.asarray([vals[r]], dtype=np.float64))[0],
                        blk.vec(q),
                        blk.norm(q),
                    )
                    for r, q in zip(ri[slow], qi[slow])
                ]
            cs, flags = _flag_encode(out)
            yield pd.DataFrame(
                {
                    "query_id": q_arr.iloc[qi].to_numpy(),
                    "neighbor_id": ids[ri],
                    "__cs": cs,
                    "__flag": flags,
                }
            )

    return scan


# --- IVF ANN -----------------------------------------------------------------


def _ivf_centroids(dim: int, n_cells: int, seed: str = "gsel-ivf") -> list[list[float]]:
    """Deterministic pseudo-random centroids (md5-derived components in
    [-1, 1]). A production build would k-means a sample; deterministic
    centroids keep tests and resumed jobs reproducible."""
    cells: list[list[float]] = []
    for c in range(n_cells):
        comps: list[float] = []
        d = 0
        while len(comps) < dim:
            digest = hashlib.md5(f"{seed}:{c}:{d}".encode()).digest()
            comps.extend(b / 127.5 - 1.0 for b in digest)
            d += 1
        cells.append(comps[:dim])
    return cells


def with_ivf_cell(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    n_cells: int = 16,
    out_col: str = "ivf_cell",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Assign each vector to its nearest centroid: one vectorized
    (batch x dim) @ (dim x cells) matmul + argmax per Arrow batch (see
    with_lsh_buckets for why not per-row folds). Ties resolve to the
    lowest cell id (np.argmax first-max), deterministically.
    ``centroids`` overrides the seeded quantizer with a trained one
    (e.g. ``lloyd_refine`` output)."""
    from pyspark.sql.functions import pandas_udf

    cents = np.array(
        centroids if centroids is not None else _ivf_centroids(dim, n_cells)
    ).T  # dim x cells

    @pandas_udf("int")
    def assign(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int32")
        m = np.vstack(vecs.to_numpy()).astype(np.float64)
        return pd.Series(np.argmax(m @ cents, axis=1).astype("int32"))

    return df.withColumn(out_col, assign(F.col(vec_col)))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    dim: int = 64,
    n_cells: int = 16,
    n_probe: int = 1,
    carry_cols: tuple[str, ...] = (),
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: candidates live in the query's nearest
    cell(s); exact cosine re-score inside. ``n_probe`` > 1 widens the
    probe to that many nearest cells (recall/cost dial). At scale the
    corpus is written partitioned by cell, so a probe reads only
    matching partitions (partition pruning — the inverted file).

    ``carry_cols`` names corpus columns to ride through candidate
    generation into the output (e.g. a label for k-NN voting) — free
    vs a post-hoc join of the top-k back onto the corpus, which would
    re-shuffle corpus-sized data a second time."""
    cb = with_ivf_cell(
        spread(corpus), vec_col, dim, n_cells, centroids=centroids
    ).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        l2_norm(F.col(vec_col), dim).alias("__cn"),
        F.col("ivf_cell").alias("__cell"),
        *[F.col(c) for c in carry_cols],
    )
    cents = centroids if centroids is not None else _ivf_centroids(dim, n_cells)
    rows = _query_rows(
        queries, id_col, vec_col, _probe_cells(vec_col, cents, n_probe)
    )
    return _probe_topk(cb, rows, dict(queries.dtypes)[id_col], k, dim, carry_cols)


def _probe_cells(vec_col: str, cents, n_probe: int) -> Column:
    """``__cells``: array<int> of the n_probe nearest cells of each
    query row (the top n_probe centroid dot products, ties to the
    highest cell — the convention every IVF oracle replays).

    The probe expression is a pure tree over (vec_col, cents, n_probe)
    — 16 cells x 64 literals expand to ~1100 py4j calls, 2-3 s of
    driver Python per probe (round-14 profiling). memo_tree makes the
    Nth probe with the same quantizer free (the trained quantizer is
    memoized per corpus, so serving probes always hit)."""
    from geosparql_etl_spark.functions.geometry import memo_tree

    ckey = cents.tolist() if hasattr(cents, "tolist") else cents

    def build() -> Column:
        scored = F.array(
            *[
                F.struct(
                    dot(
                        F.col(vec_col), F.array(*[F.lit(v) for v in c])
                    ).alias("score"),
                    F.lit(i).alias("cell"),
                )
                for i, c in enumerate(cents)
            ]
        )
        probes = F.slice(F.reverse(F.array_sort(scored)), 1, n_probe)
        return F.transform(probes, lambda s: s["cell"])

    return memo_tree(
        ("probe_cells", vec_col, n_probe, repr(ckey)), build
    ).alias("__cells")


_CELL_COS_MEMO: dict = {}


def _probe_topk(
    cb: DataFrame,
    rows,
    qtype: str,
    k: int,
    dim: int,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Exact cosine + per-query top-k over a pre-celled corpus frame
    (neighbor_id, __cv, __cn, __cell, *carry) for collected query rows
    (_query_rows with _probe_cells; ``qtype`` is their id type).

    One vectorized scan per query block computes the exact cosine of
    each corpus row against every query row probing its cell (seq_dot
    replicates the JVM fold bit for bit; the STORED ``__cn`` is shipped
    into the scan and used as-is, so a persisted index's norms
    participate verbatim) and keeps only per-(query, batch) top-k-safe
    rows (the _topk_candidates margin argument, restricted to each
    query's probed cells). Each query ROW is scored once; rows sharing
    an id share one window partition, like the cell join."""
    ctypes = dict(cb.dtypes)
    schema = (
        f"query_id {qtype}, neighbor_id {ctypes['neighbor_id']}, "
        "__cs double, __flag tinyint"
    )
    for c in carry_cols:
        schema += f", {c} {ctypes[c]}"
    inp = cb.select(
        F.col("neighbor_id").alias("__id"),
        "__cell",
        F.col("__cv").alias("__v"),
        "__cn",
        # Arrow hands pandas NaN for BOTH a SQL NULL norm and a real
        # NaN norm, but the semantics differ (NULL -> denom NULL ->
        # 0.0; NaN -> NaN > 0 is TRUE under NaN-greatest -> NaN
        # cosine, which ranks FIRST desc) — ship the null bit JVM-side
        F.col("__cn").isNull().alias("__cnn"),
        *carry_cols,
    )

    def block_scan(blk):
        scan = _memo_scan(
            _CELL_COS_MEMO,
            blk.key("cellcos", int(k), int(dim), schema),
            lambda: _cell_cosine_scan_fn(blk, k, dim, list(carry_cols)),
        )
        return inp.mapInPandas(scan, schema)

    scored = (
        _scan_blocks(rows, dim, block_scan)
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _scan_value("cosine_sim"), *carry_cols)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def _cell_cosine_scan_fn(blk: _QueryBlock, k, dim, carry):
    """mapInPandas scorer of _probe_topk: exact cosine of each corpus
    row against every query row probing its cell, per-(query, batch)
    top-k cut (_cosine_cut — invalid/NaN rows always kept and never
    lift the cut), stored __cn used verbatim as the corpus-side norm.
    Reference value per pair:
    CASE WHEN __qn * __cn > 0 THEN dot/(.,.) ELSE 0.0 END with Spark's
    NaN-greatest comparison and the null algebra of the fold."""
    nq = len(blk.ids)
    qmat = blk.mat

    def scan(batches):
        q_arr = blk.id_series()
        cell_to_q = blk.cell_queries() if nq else {}
        for pdf in batches:
            n = len(pdf)
            if n == 0 or nq == 0:
                continue
            vals = pdf["__v"].to_numpy()
            ids = pdf["__id"].to_numpy()
            cns = pdf["__cn"].to_numpy()
            mat = np.zeros((n, dim), dtype=np.float64)
            full = np.zeros(n, dtype=bool)
            for i, v in enumerate(vals):
                if v is not None and len(v) == dim:
                    mat[i] = v
                    full[i] = True
            cn64 = np.where(pd.isnull(cns), np.nan, cns).astype(np.float64)
            # the JVM-computed null bit, NOT pd.isnull (which would
            # also claim real NaN norms — those must flow NaN-greatest)
            cn_null = pdf["__cnn"].to_numpy().astype(bool)
            cells = pdf["__cell"].to_numpy()
            elig = np.zeros((n, nq), dtype=bool)
            notnull = pd.notnull(cells)
            for c in pd.unique(cells[notnull]):
                qidx = cell_to_q.get(c)
                if qidx is not None:
                    elig[np.ix_(cells == c, qidx)] = True
            denom = np.outer(cn64, blk.qn)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(
                    (denom > 0) | np.isnan(denom), (mat @ qmat.T) / denom, 0.0
                )
            ri, qi = _cosine_cut(
                cos, ~full | cn_null, elig & _pairable(ids, blk), k
            )
            if len(ri) == 0:
                continue
            out = np.empty(len(ri), dtype=object)
            fast = full[ri] & ~cn_null[ri] & blk.full[qi]
            if fast.any():
                fr, fq = ri[fast], qi[fast]
                d = seq_dot(mat[fr], qmat[fq])
                den = blk.qn[fq] * cn64[fr]
                with np.errstate(divide="ignore", invalid="ignore"):
                    out[fast] = np.where((den > 0) | np.isnan(den), d / den, 0.0)
            slow = ~fast
            if slow.any():
                out[slow] = [
                    _pair_cosine(
                        vals[r],
                        None if cn_null[r] else cn64[r],
                        blk.vec(q),
                        blk.norm(q),
                    )
                    for r, q in zip(ri[slow], qi[slow])
                ]
            cs, flags = _flag_encode(out)
            res = {
                "query_id": q_arr.iloc[qi].to_numpy(),
                "neighbor_id": ids[ri],
                "__cs": cs,
                "__flag": flags,
            }
            for c in carry:
                res[c] = pdf[c].to_numpy()[ri]
            yield pd.DataFrame(res)

    return scan


def auto_n_cells(n_rows: int, rows_per_cell: int | None = None) -> int:
    """Coarse-quantizer size for a corpus of ``n_rows`` vectors when
    the caller does not hand-tune one: the power of two nearest
    sqrt(n_rows), clamped to [4, 65536]. sqrt balances the two halves
    of probe cost — cells scanned per probe and rows per cell both
    grow ~sqrt(N) — and the round-11 10x sweep measured exactly this
    failure mode for a FIXED cell count (16 cells at 20k vectors =
    1,250 rows/cell; retrained 64 gave the same recall at half the
    scan). ``rows_per_cell`` switches to an explicit occupancy
    target (ceil(n/rows_per_cell), same rounding/clamp). Powers of
    two keep cell counts stable under small corpus drift, so a
    re-train is only triggered by a real step-change (~2x growth)."""
    import math

    if n_rows <= 0:
        return 4
    target = (
        n_rows / rows_per_cell if rows_per_cell else math.sqrt(n_rows)
    )
    return max(4, min(65536, 2 ** round(math.log2(max(target, 1.0)))))


def _persist_quantizer(path: str, meta: dict, replace: bool) -> None:
    """Write the index's quantizer sidecar (``_quantizer.json``,
    atomic rename). When ``replace`` is False (epoch appends) and a
    sidecar already exists, the incoming quantizer must MATCH it —
    appending cells assigned by a different quantizer corrupts probe
    recall silently (the drift hazard every docstring here warns
    about), so it fails loudly instead."""
    import json
    import os

    p = os.path.join(path, "_quantizer.json")
    if not replace and os.path.exists(p):
        with open(p) as fh:
            existing = json.load(fh)
        # symmetric comparison (round-13 fix): a plain-IVF append
        # whose meta simply LACKS the codebook keys must not pass the
        # guard on a PQ index — its rows would land without __pq and
        # the ADC probe ranks NULL approx_d2 first, silently
        # polluting every shortlist
        if "codebooks" in existing and "codebooks" not in meta:
            raise ValueError(
                f"codebook-less write onto PQ index {path}: this "
                "index stores packed PQ codes, so epoch appends must "
                "encode __pq with its codebooks — use "
                "update_ivf_index / write_ivf_pq_index"
            )
        if set(existing) != set(meta) or any(
            existing.get(k) != meta.get(k) for k in meta
        ):
            raise ValueError(
                f"quantizer drift: {path} was built with a different "
                "quantizer than this write supplies — rebuild the "
                "index (or pass the original centroids/codebooks)"
            )
        return
    tmp = p + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, p)


def read_index_quantizer(index_path: str) -> dict | None:
    """The quantizer the index was BUILT with, from its sidecar
    (round 12 — indexes are self-describing: probes called without
    explicit centroids/codebooks resolve them from here, so a caller
    can never probe with a drifted quantizer by accident, and a
    retrain swap automatically re-points every subsequent probe).
    None for indexes predating the sidecar."""
    import json
    import os

    p = os.path.join(index_path, "_quantizer.json")
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)


def write_ivf_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_cells: int | None = 16,
    centroids: list[list[float]] | None = None,
    mode: str = "overwrite",
    epoch: str | None = None,
) -> None:
    """Persist the inverted file: the corpus written as parquet
    PARTITIONED BY its IVF cell — one ``ivf_cell=K/`` directory per
    cell, so a probe is a partition-pruned scan (ivf_topk's docstring
    claim made physical). The norm is precomputed into the file
    (``__cn``) because the index pays it once at build time instead of
    every probe.

    ``epoch`` switches to the INCREMENTAL layout
    ``path/epoch=<tag>/ivf_cell=K/`` (the base generation of a
    streaming-maintained index — streaming/ann.py appends later
    epochs). Readers see one extra partition column; ivf_cell pruning
    is unchanged because Spark prunes on any partition-column
    predicate regardless of directory nesting order.

    ``n_cells=None`` auto-sizes: ``len(centroids)`` when a trained
    quantizer is handed in, else ``auto_n_cells(corpus.count())`` —
    the sqrt-of-corpus default the round-11 scale sweep motivated."""
    if n_cells is None:
        n_cells = (
            len(centroids)
            if centroids is not None
            else auto_n_cells(corpus.count())
        )
    root = path
    if epoch is not None:
        import os

        # ledger-before-data, like the text lake's tombstone-first
        # discipline inverted: the seq is allocated (and persisted)
        # before the epoch writes, the epoch's _SUCCESS remains the
        # commit point, and _ann_epoch_seqs only counts committed
        # epochs — so a crash between the two leaves a harmless
        # reserved seq, and a replay reuses it
        _commit_ann_epoch(path, str(epoch))
        # epoch appends must use the quantizer the index was built
        # with (drift guard); the base epoch of a fresh dir persists it
        _persist_quantizer(
            path,
            _quantizer_meta(dim, n_cells, centroids),
            replace=False,
        )
        path = os.path.join(path, f"epoch={epoch}")
    with_ivf_cell(
        spread(corpus), vec_col, dim, n_cells, centroids=centroids
    ).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        l2_norm(F.col(vec_col), dim).alias("__cn"),
        "ivf_cell",
    ).repartition(
        # cluster by cell before the partitioned write (round 14,
        # guide §6): an unclustered partitionBy emits tasks x cells
        # files — 500+ 8KB files at bench scale, tens of millions at
        # 100 TB. One exchange bounds it to one file per cell; the
        # cell compute above still runs at the spread width, and
        # Lloyd-balanced cells keep the write tasks even.
        F.col("ivf_cell")
    ).write.mode(mode).partitionBy("ivf_cell").parquet(path)
    if epoch is None:
        # the flat overwrite just cleared the dir — re-persist
        _persist_quantizer(
            root, _quantizer_meta(dim, n_cells, centroids), replace=True
        )


def _quantizer_meta(
    dim: int,
    n_cells: int,
    centroids,
    m: int | None = None,
    k: int | None = None,
    codebooks=None,
) -> dict:
    meta = {
        "dim": dim,
        "n_cells": n_cells,
        "centroids": [
            [float(x) for x in c]
            for c in (
                centroids
                if centroids is not None
                else _ivf_centroids(dim, n_cells)
            )
        ],
    }
    if m is not None:
        meta["m"] = m
        meta["k"] = k
        meta["codebooks"] = [
            [[float(x) for x in c] for c in book] for book in codebooks
        ]
    return meta


def delete_from_ivf_index(spark, index_path: str, ids) -> None:
    """DELETE support for the persisted index lake: dropped ids are
    appended as TOMBSTONES under ``<index>/_tombstones/`` — an
    O(|deleted ids|) metadata write, never an index rewrite (at 100 TB
    a delete that rewrites cell files is an outage; a delete that
    appends a parquet file of ids is a row op). The underscore prefix
    makes Spark's file index treat the directory as hidden, so plain
    ``spark.read.parquet(index)`` scans are untouched; probe readers
    (``ivf_index_topk`` / ``ivf_index_pq_topk``) anti-join the
    tombstone set (broadcast — bounded by deletes-since-compaction),
    and ``compact_ivf_index`` applies tombstones physically and clears
    them atomically with its generation swap.

    On an epoch-layout index the tombstones are SCOPED to the epochs
    committed at issue time — one (neighbor_id, epoch) pair per
    committed epoch, the same segment-local delete rule as the text
    lake's seq-scoped tombstones — so an epoch that lands AFTER the
    delete (a re-insert of the same id via ``update_ivf_index`` /
    ``run_ann_upserts``) serves instead of being silently suppressed
    and physically dropped at compaction (review finding, round 11:
    the two lakes' CDC upsert semantics diverged here). Deleting ids
    absent from the index is a harmless phantom; a delete against an
    epoch layout with nothing committed yet is a no-op (an in-flight
    epoch that commits later post-dates the delete and must survive).
    A flat (epoch-less) layout has no segment order to scope against,
    so its tombstones stay NULL-scoped = kill-everywhere — exact
    there, since flat layouts refuse updates."""
    import glob
    import os

    import pyarrow as pa

    from geosparql_etl_spark.lakes import commit as lc
    from geosparql_etl_spark.util import atomic_parquet_append

    id_list = lc.collect_id_list(ids)
    if not id_list:
        return
    # driver-side atomic single-file append: concurrent CDC streams
    # and manual deletes share ONE _tombstones dir, and a Spark
    # append job's shared _temporary staging is unsafe under two
    # writers (util.atomic_parquet_append). Bounded metadata: |ids| x
    # |committed epochs|.
    if glob.glob(os.path.join(index_path, "epoch=*")):
        committed = _committed_epochs(index_path)
        if not committed:
            return
        issued = max(_ann_epoch_seqs(index_path).values(), default=0)
        nid, eps = [], []
        for i in id_list:
            for e in committed:
                nid.append(i)
                eps.append(e)
        table = pa.table(
            {
                "neighbor_id": pa.array(nid, pa.int64()),
                "epoch": pa.array(eps, pa.string()),
                # WHEN the delete was issued (current max ledger seq):
                # a time-travel probe pinned before it sees the
                # pre-delete index (as_of filter in
                # read_index_tombstones)
                "issued": pa.array([issued] * len(nid), pa.int32()),
            }
        )
    else:
        table = pa.table(
            {"neighbor_id": pa.array(id_list, pa.int64())}
        )
    atomic_parquet_append(
        os.path.join(index_path, "_tombstones"), table
    )


def _committed_epochs(index_path: str) -> list[str]:
    """Epoch tags whose directory carries Spark's ``_SUCCESS`` commit
    marker — the activation gate for update-issued tombstones."""
    import glob
    import os

    out = []
    for d in glob.glob(os.path.join(index_path, "epoch=*")):
        if os.path.exists(os.path.join(d, "_SUCCESS")):
            out.append(os.path.basename(d).split("=", 1)[1])
    return sorted(out)


def _ann_epoch_seqs(index_path: str) -> dict[str, int]:
    """Monotonic sequence number per COMMITTED epoch — the vector
    lake's twin of the text ledger (round 12, enables time travel):
    each epoch writer commits ``_ledger/<epoch>.json`` ({"seq": n})
    with one atomic rename (multi-writer safe, replay keeps the
    original seq). Epochs predating the ledger fall back to
    name order with ``base`` first, sequenced BELOW every ledgered
    seq — un-ledgered epochs can only predate the ledger (every
    write path since round 12 commits a ledger entry), so ranking
    them after ledgered epochs would let a compacted base drift
    ABOVE later appends and silently vanish from time-travel probes
    (round-13 fix; compaction also now seeds ``base``'s ledger entry
    so this fallback is a legacy-layout safety net only)."""
    from geosparql_etl_spark.lakes import commit as lc

    committed = _committed_epochs(index_path)
    seqs = {
        name: int(entry["seq"])
        for name, entry in lc.read_ledger_entries(index_path).items()
        if name in committed
    }
    seqs.update(lc.sequence_unledgered(committed, seqs))
    return seqs


def _commit_ann_epoch(index_path: str, epoch: str) -> int:
    """Assign-and-commit the epoch's ledger seq: a replayed epoch
    keeps its original seq (its tombstones' relative order must not
    move), a new epoch sequences after everything committed. Atomic
    single-file rename — the multi-writer commit point
    (lakes.commit.commit_ledger_entry)."""
    from geosparql_etl_spark.lakes import commit as lc

    seqs = _ann_epoch_seqs(index_path)
    # include not-yet-committed ledger entries too (a crashed writer's
    # epoch may hold a seq whose reuse would alias two epochs)
    for name, entry in lc.read_ledger_entries(index_path).items():
        if name not in seqs:
            seqs[name] = int(entry["seq"])
    seq = lc.assign_seq(seqs, str(epoch))
    lc.commit_ledger_entry(index_path, str(epoch), {"seq": seq})
    return seq


def read_index_tombstones(
    spark, index_path: str, as_of_seq: int | None = None
) -> DataFrame | None:
    """The index's pending tombstone set as (neighbor_id, epoch),
    deduped, or None when no delete has been issued since the last
    compaction. ``epoch`` names ONE epoch the tombstone kills the id
    in: plain deletes fan one row per epoch committed at issue time,
    update tombstones cover every epoch except the one re-inserting
    the vector — either way an epoch that lands later survives.
    ``epoch`` is NULL only for flat-layout deletes (kill everywhere;
    exact there) and for files predating the epoch column, which read
    as NULL-scoped via mergeSchema (legacy = delete-everything).

    Update tombstones also carry ``src_epoch`` (the epoch that
    re-inserts the vector) and stay DORMANT until that epoch's
    ``_SUCCESS`` marker exists: update_ivf_index writes tombstones
    first and the epoch's commit activates them, so a crash between
    the two leaves the old version serving instead of vanishing the
    vector (review finding, round 11).

    ``as_of_seq`` restricts to tombstones ISSUED at or before that
    ledger seq (round 12 time travel — the text lake rule): deletes
    and updates that happened after the pin don't exist yet at the
    pin. Files predating the issued column count as issued at 0."""
    from geosparql_etl_spark.lakes import commit as lc

    t = lc.read_tombstone_frame(spark, index_path)
    if t is None:
        return None
    if "epoch" not in t.columns:
        t = t.withColumn("epoch", F.lit(None).cast("string"))
    if "src_epoch" in t.columns:
        committed = _committed_epochs(index_path)
        t = t.where(
            F.col("src_epoch").isNull()
            | F.col("src_epoch").cast("string").isin(committed)
        )
    if as_of_seq is not None:
        issued = (
            F.coalesce(F.col("issued"), F.lit(0))
            if "issued" in t.columns
            else F.lit(0)
        )
        t = t.where(issued <= as_of_seq)
    return t.select(
        "neighbor_id", F.col("epoch").cast("string").alias("epoch")
    ).dropDuplicates()


def _apply_ann_tombstones(rows: DataFrame, tomb: DataFrame) -> DataFrame:
    """Drop index rows killed by pending tombstones (both broadcast —
    bounded by deletes-since-compaction). NULL-scoped tombstones kill
    the id everywhere; epoch-scoped ones kill only the named epoch's
    version, so an updated vector's re-insert survives. ``rows``
    must carry the ``epoch`` partition column when the index has an
    epoch layout (scoped tombstones can only exist for such indexes
    — update_ivf_index refuses flat layouts)."""
    unscoped = tomb.where(F.col("epoch").isNull()).select("neighbor_id")
    rows = rows.join(F.broadcast(unscoped), "neighbor_id", "left_anti")
    scoped = tomb.where(F.col("epoch").isNotNull())
    if "epoch" in rows.columns:
        rows = rows.join(
            F.broadcast(scoped),
            ["neighbor_id", "epoch"],
            "left_anti",
        )
    return rows


def update_ivf_index(
    spark,
    new_rows: DataFrame,
    index_path: str,
    epoch: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_cells: int = 16,
    centroids: list[list[float]] | None = None,
) -> None:
    """UPSERT for the vector lake (re-embedding after a model refresh
    or content change): the incoming ids' CURRENT rows are tombstoned
    per-epoch — one (neighbor_id, epoch) pair for every epoch that
    exists at call time, EXCLUDING the update's own epoch so a replay
    re-issues the identical scope — and the new vectors land as a
    fresh ``epoch=<tag>`` assigned by the SAME trained quantizer
    (quantizer drift between build and update corrupts recall
    silently, hence the explicit centroids). Delete + append, no
    rebuild, per-batch cost; ids not previously indexed insert
    cleanly (phantom tombstone pairs match nothing). Requires the
    epoch layout (``write_ivf_index(..., epoch='base')``) — a flat
    index has no segment order to scope deletes against.

    PQ-coded layouts update too (round 12): the update epoch encodes
    ``__pq`` with the build-time codebooks from the index's
    ``_quantizer.json`` sidecar — drift impossible by construction —
    and must supply the index's carry columns (filtered probes would
    otherwise read NULLs for updated rows). Pre-sidecar PQ indexes
    still refuse with a rebuild hint.

    Crash-atomic: the tombstones are written FIRST but stamped with
    ``src_epoch`` and stay dormant until the replacement epoch's
    ``_SUCCESS`` marker commits — a crash between the two writes
    leaves the old version serving (never a vanished vector), and the
    replay overwrites both sides idempotently.

    Replay-safe scope: the tombstone rows already on disk for this
    ``src_epoch`` ARE the persisted scope — a replay (streaming
    restart, retried batch) detects them and skips the tombstone
    write instead of recomputing the epoch set, so epochs committed
    by ANOTHER writer between crash and replay are never tombstoned
    for this batch's ids (the epoch-set twin of the text lake's
    replayed-epoch-keeps-its-seq rule). Epoch tags are therefore
    replay identities: re-running an epoch tag with a DIFFERENT row
    set is undefined — mint a fresh tag per logical batch.

    ``new_rows`` is evaluated twice (id projection for the tombstones,
    full rows for the epoch write) — both reads are columnar-pruned
    (the tombstone job touches only the id column), so the second
    pass costs one narrow scan, not a duplicate of the wide one."""
    import glob
    import os

    layout_epochs = [
        os.path.basename(d).split("=", 1)[1]
        for d in glob.glob(os.path.join(index_path, "epoch=*"))
        if os.path.basename(d).split("=", 1)[1] != str(epoch)
    ]
    if not layout_epochs:
        raise ValueError(
            "update_ivf_index requires an epoch-layout index "
            "(write_ivf_index(..., epoch='base'))"
        )
    # tombstone scope = COMMITTED epochs only (round-13 fix; the
    # delete_from_ivf_index rule): a concurrent writer's in-flight
    # epoch post-dates this update — if it commits later it must
    # survive, so tombstoning it here would contradict the documented
    # 'an epoch that lands later survives' multi-writer semantics
    epochs_now = [
        e for e in _committed_epochs(index_path) if e != str(epoch)
    ]
    base_cols = spark.read.parquet(index_path).columns
    is_pq = "__pq" in base_cols
    pq_meta = None
    if is_pq:
        # round 12: the PQ refusal is lifted — the build-time
        # codebooks persist in the _quantizer.json sidecar, so the
        # update epoch can encode __pq with the EXACT quantizer the
        # index serves with (drift impossible by construction)
        pq_meta = read_index_quantizer(index_path)
        if pq_meta is None or "codebooks" not in pq_meta:
            raise ValueError(
                "PQ update needs the index's _quantizer.json sidecar "
                "(with codebooks) — rebuild once via round-12 "
                "write_ivf_pq_index to enable in-place PQ updates"
            )
        carry = tuple(
            sorted(
                c
                for c in base_cols
                if c
                not in (
                    "neighbor_id", "__cv", "__cn", "__pq",
                    "ivf_cell", "epoch",
                )
            )
        )
        missing = [c for c in carry if c not in new_rows.columns]
        if missing:
            raise ValueError(
                f"PQ update batch lacks the index's carry column(s) "
                f"{missing} — filtered probes would read NULLs for "
                "the updated rows"
            )
    if new_rows.limit(1).count() == 0:
        # empty upsert batch (streams deliver empty micro-batches): a
        # zero-row tombstone write leaves a footer-less parquet dir —
        # skip the whole op, nothing to replace
        return
    from geosparql_etl_spark.lakes import commit as lc

    tomb_dir = os.path.join(index_path, "_tombstones")
    prev = lc.read_tombstone_frame(spark, index_path)
    replayed = (
        prev is not None
        and "src_epoch" in prev.columns
        and prev.where(
            F.col("src_epoch").cast("string") == str(epoch)
        ).limit(1).count() > 0
    )
    if not replayed:
        import pyarrow as pa

        from geosparql_etl_spark.util import atomic_parquet_append

        # allocate (and persist) the replacement epoch's seq FIRST so
        # the tombstones can stamp it as their issue time — a
        # time-travel probe pinned before the update sees the old
        # version (the text lake's issued-AT-its-epoch rule); the
        # write_ivf_index call below re-commits the same seq
        issued = _commit_ann_epoch(index_path, str(epoch))
        # driver-side atomic append (see delete_from_ivf_index): the
        # id projection is columnar-pruned and batch-bounded
        batch_ids = [
            int(r[0])
            for r in new_rows.select(
                F.col(id_col).cast("long")
            ).collect()
        ]
        nid, eps = [], []
        for i in batch_ids:
            for e in epochs_now:
                nid.append(i)
                eps.append(e)
        if not nid:
            # empty scope (an upsert racing the initial build: no
            # OTHER epoch committed yet): nothing visible to
            # tombstone — but the empty scope must still PERSIST as
            # this epoch's replay marker, or a replay after another
            # writer commits would recompute a non-empty scope and
            # tombstone an epoch that landed after the upsert
            # (round-13 review finding). One src_epoch-keyed row
            # scoped to a reserved epoch name no writer can mint
            # ("__none__" — write paths tag epochs base/a*/u*-style):
            # a phantom that kills nothing, read as an ordinary
            # scoped tombstone everywhere.
            nid = [int(batch_ids[0])]
            eps = ["__none__"]
        atomic_parquet_append(
            tomb_dir,
            pa.table(
                {
                    "neighbor_id": pa.array(nid, pa.int64()),
                    "epoch": pa.array(eps, pa.string()),
                    "src_epoch": pa.array(
                        [str(epoch)] * len(nid), pa.string()
                    ),
                    "issued": pa.array(
                        [issued] * len(nid), pa.int32()
                    ),
                }
            ),
        )
    if is_pq:
        write_ivf_pq_index(
            new_rows,
            index_path,
            id_col=id_col,
            vec_col=vec_col,
            dim=int(pq_meta["dim"]),
            n_cells=int(pq_meta["n_cells"]),
            m=int(pq_meta["m"]),
            k=int(pq_meta["k"]),
            centroids=pq_meta["centroids"],
            codebooks=pq_meta["codebooks"],
            mode="overwrite",
            carry_cols=carry,
            epoch=str(epoch),
        )
    else:
        write_ivf_index(
            new_rows,
            index_path,
            id_col=id_col,
            vec_col=vec_col,
            dim=dim,
            n_cells=n_cells,
            centroids=centroids,
            mode="overwrite",
            epoch=str(epoch),
        )


def maybe_retrain_ivf_index(
    spark,
    index_path: str,
    current_n_cells: int,
    vec_col: str = "embedding",
    dim: int = 64,
    rounds: int = 10,
) -> tuple[int, list[list[float]] | None]:
    """The corpus-step-change retrain trigger (round 12, the
    operational wrapper around sim34's flow): counts the index's LIVE
    rows (tombstones applied — a metadata count, no vector columns
    read), compares ``auto_n_cells(live)`` against the quantizer size
    the index was built with, and when they differ — powers of two,
    so only a ~2x corpus change moves the target — re-trains on the
    live vectors and atomically swaps a re-partitioned ``epoch=base``
    generation into the live path (write-complete-then-rename, the
    compact_ivf_index discipline; probes keep serving the old
    generation until the rename). Single-actor like compaction: run
    from the maintenance owner with writers quiesced. Plain-IVF layouts only (a PQ re-train also needs new
    codebooks — rebuild via write_ivf_pq_index explicitly).

    Returns ``(n_cells, centroids)`` — the post-call quantizer size
    and, when a retrain fired, the NEW trained centroids probes must
    use from now on (``None`` when unchanged: keep the old ones)."""
    import shutil

    from geosparql_etl_spark.lakes import commit as lc

    tmp, old = lc.swap_paths(index_path, "retrain")
    # crash-recovery preamble (round-13 fix: without it, a crash
    # between the swap's two renames left no live index and nothing
    # ever restored the moved-aside copy)
    lc.recover_swap(index_path, old)

    scan = spark.read.parquet(index_path)
    if "__pq" in scan.columns:
        raise ValueError(
            "maybe_retrain_ivf_index does not support PQ-coded "
            "layouts — rebuild via write_ivf_pq_index"
        )
    rows = scan.select(
        "neighbor_id",
        F.col("__cv").alias(vec_col),
        *(["epoch"] if "epoch" in scan.columns else []),
    )
    if "epoch" in rows.columns:
        # committed epochs only (round-13 fix): a torn epoch must not
        # be counted, trained on, or baked into the swapped generation
        rows = rows.where(
            F.col("epoch").cast("string").isin(
                _committed_epochs(index_path)
            )
        )
    tomb = read_index_tombstones(spark, index_path)
    if tomb is not None:
        rows = _apply_ann_tombstones(rows, tomb)
    rows = rows.drop("epoch").withColumnRenamed("neighbor_id", "vec_id")
    # the count prunes to the id column — no vector bytes read
    target = auto_n_cells(rows.count())
    if target == current_n_cells:
        return current_n_cells, None
    trained = lloyd_train(
        rows, vec_col, dim=dim, n_cells=target, rounds=rounds
    )
    shutil.rmtree(tmp, ignore_errors=True)
    write_ivf_index(
        rows, tmp, id_col="vec_id", vec_col=vec_col, dim=dim,
        n_cells=target, centroids=trained, epoch="base",
    )
    lc.commit_swap(index_path, tmp, old)
    return target, trained


def pack_pq_code(codes: Column, m: int, k: int) -> Column:
    """Pack an m-element PQ code array into ONE BIGINT (big-endian,
    ceil(log2 k) bits per code): the 8-byte stored representation that
    makes a persisted ADC scan read a single fixed-width column
    instead of an array — at m=16, k=16 a vector's code is exactly 64
    bits. Pure native fold; unpack is shift/mask (unpack_pq_code)."""
    bits = max(1, (k - 1).bit_length())
    if m * bits > 64:
        raise ValueError(f"packed code needs {m * bits} bits > 64")
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: F.shiftleft(acc, bits) + c.cast("long"),
    )


def unpack_pq_code(packed: Column, j: int, m: int, k: int) -> Column:
    """Code of subspace ``j`` (0-based) out of a pack_pq_code BIGINT.
    Unsigned shift: a full 64-bit pack (m=16, k=16) uses the sign bit
    as payload, so arithmetic shifts would sign-extend subspace 0."""
    bits = max(1, (k - 1).bit_length())
    # mask, not %: at shift 0 the value is still sign-bit-negative and
    # Spark % keeps the dividend's sign (-5 instead of 11)
    return (
        F.shiftrightunsigned(packed, bits * (m - 1 - j)).bitwiseAND(
            F.lit((1 << bits) - 1)
        )
    ).cast("int")


def write_ivf_pq_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_cells: int | None = 16,
    m: int = 16,
    k: int = 16,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    mode: str = "overwrite",
    carry_cols: tuple[str, ...] = (),
    epoch: str | None = None,
) -> None:
    """write_ivf_index plus the PQ arm: each row additionally stores
    its packed product-quantization code (``__pq``, one BIGINT — 8
    bytes at the shipped m=16/k=16 config). The probe's ADC stage then
    scans (neighbor_id, __pq) ONLY — parquet column pruning keeps the
    256-byte float vectors unread until the shortlist re-score — and
    only in the probed ``ivf_cell=K/`` directories. This is the
    billion-scale serving layout: partition pruning bounds WHICH rows
    are read, column pruning bounds HOW WIDE, and the wide column is
    touched for shortlist x queries rows total (sim23 pins the plan).

    ``n_cells=None`` auto-sizes exactly like ``write_ivf_index``.
    ``epoch`` switches to the incremental layout (round 12: with the
    codebooks persisted in ``_quantizer.json``, the PQ lake supports
    the same epoch appends/updates as the plain layout — ledger seq
    committed before data, drift guard on the quantizer)."""
    if n_cells is None:
        n_cells = (
            len(centroids)
            if centroids is not None
            else auto_n_cells(corpus.count())
        )
    out_path = path
    if epoch is not None:
        import os

        _commit_ann_epoch(path, str(epoch))
        _persist_quantizer(
            path,
            _quantizer_meta(
                dim, n_cells, centroids, m=m, k=k,
                codebooks=(
                    codebooks
                    if codebooks is not None
                    else _pq_codebooks(dim, m, k)
                ),
            ),
            replace=False,
        )
        out_path = os.path.join(path, f"epoch={epoch}")
    coded = with_pq_code(
        with_ivf_cell(
            spread(corpus), vec_col, dim, n_cells, centroids=centroids
        ),
        vec_col, dim, m, k, out_col="__codes", codebooks=codebooks,
    )
    coded.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        l2_norm(F.col(vec_col), dim).alias("__cn"),
        pack_pq_code(F.col("__codes"), m, k).alias("__pq"),
        # filterable metadata rides BESIDE the codes: a filtered probe
        # (sim24) pushes its predicate into the codes-only scan, so
        # ineligible rows die at the parquet reader, before ADC
        *carry_cols,
        "ivf_cell",
    ).repartition(
        # same clustered-write rule as write_ivf_index (guide §6)
        F.col("ivf_cell")
    ).write.mode(mode).partitionBy("ivf_cell").parquet(out_path)
    if epoch is not None:
        return
    _persist_quantizer(
        path,
        _quantizer_meta(
            dim, n_cells, centroids, m=m, k=k,
            codebooks=(
                codebooks
                if codebooks is not None
                else _pq_codebooks(dim, m, k)
            ),
        ),
        replace=True,
    )


def ivf_index_pq_topk(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kq: int = 5,
    shortlist: int = 20,
    dim: int = 64,
    n_cells: int = 16,
    n_probe: int = 2,
    m: int = 16,
    k: int = 16,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    candidate_filter: Column | None = None,
) -> DataFrame:
    """The composed ANN pipeline against a PERSISTED write_ivf_pq_index
    layout — sim22's three stages with the physical reads they imply:

    Stage 1 (prune):   the query side is collected once with its probed
                       cells (|queries| x n_probe ints); their union
                       pushes into BOTH scans as a partition filter.
    Stage 2 (scan):    ADC over the CODES-ONLY projection — parquet
                       reads (neighbor_id, __pq): 8-byte codes, never
                       the float vectors; the packed codes unpack in
                       numpy (same shift/mask as unpack_pq_code) inside
                       the _adc_scan_fn scan, which keeps the rows that
                       can reach each query's ``shortlist``.
    Stage 3 (verify):  the shortlist's ids broadcast back into a
                       second probed-partition read that projects
                       (neighbor_id, __cv, __cn) — the wide column is
                       read for shortlist-joined rows only — then
                       exact cosine, final top ``kq``.

    Same rounding/tie rules as ivf_pq_topk, so the persisted path
    returns EXACTLY the in-memory composed result (pinned by sim23's
    oracle and by test).

    ``candidate_filter`` (a Column over carry_cols the index was
    written with, e.g. ``F.col("label") == "x"``) PRE-filters
    candidates in the codes scan itself — the predicate pushes to the
    parquet reader (PushedFilters), so ineligible rows never reach
    the ADC stage and the shortlist fills with ELIGIBLE neighbors
    (post-filtering a shortlist would silently shrink k — the classic
    filtered-ANN mistake).

    ``centroids=None`` / ``codebooks=None`` resolve from the index's
    ``_quantizer.json`` sidecar (self-describing probes, see
    ivf_index_topk)."""
    dim, cents = _index_centroids(path, centroids, dim, n_cells)
    q = read_index_quantizer(path) if codebooks is None else None
    if q is not None and "codebooks" in q:
        m, k = int(q["m"]), int(q["k"])
        books = q["codebooks"]
    else:
        books = codebooks if codebooks is not None else _pq_codebooks(dim, m, k)
    rows = _query_rows(
        queries, id_col, vec_col, _probe_cells(vec_col, cents, n_probe)
    )
    scan = spark.read.parquet(path).where(
        F.col("ivf_cell").isin(_probed_cells(rows))
    )
    # committed epochs only, tombstones applied before the shortlist
    # fills, so a torn epoch's partial codes or a deleted neighbor can
    # never crowd out a live one
    code_scan = _ann_scan_restrict(
        spark,
        scan if candidate_filter is None else scan.where(candidate_filter),
        path,
        None,
        cols=("neighbor_id", "__pq"),
    )
    cand = _adc_scan_build(
        code_scan.select(F.col("neighbor_id").alias("__id"), "__pq", "__cell"),
        rows, books, m, k, shortlist,
        dict(queries.dtypes)[id_col], dict(code_scan.dtypes)["neighbor_id"],
        packed=True,
    )
    short = _adc_shortlist(cand, shortlist)
    # stage 3: a shortlisted id fetches its LIVE vector (same restrict),
    # never a superseded/deleted row that happens to share the id
    fetched = (
        _ann_scan_restrict(spark, scan, path, None)
        .join(
            F.broadcast(short.select("query_id", "neighbor_id", "__qrow")),
            "neighbor_id",
        )
        .join(F.broadcast(_query_frame(spark, rows, queries, vec_col)), "__qrow")
    )
    return _exact_cosine_topk(fetched, kq, dim)


def _index_centroids(path: str, centroids, dim: int, n_cells: int):
    """(dim, centroids) a persisted-index probe uses: explicit
    ``centroids`` win, else the index's ``_quantizer.json`` sidecar
    (dim and centroids wholesale), else the seeded quantizer."""
    if centroids is not None:
        return dim, centroids
    q = read_index_quantizer(path)
    if q is None:
        return dim, _ivf_centroids(dim, n_cells)
    return int(q["dim"]), q["centroids"]


def ivf_index_topk(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    dim: int = 64,
    n_cells: int = 16,
    n_probe: int = 1,
    centroids: list[list[float]] | None = None,
    as_of_seq: int | None = None,
) -> DataFrame:
    """Approximate top-k against a PERSISTED ``write_ivf_index`` index.

    The query side is collected once with its probed cells (at most
    |queries| x n_probe ints — index metadata, like sim15's trained
    centroids); their union is pushed into the scan as a partition
    filter, so the read touches ONLY the probed ``ivf_cell=K/``
    directories: the scan cost is per-probe, not per-corpus, which is
    the entire point of an inverted file at 100 TB. The plan shows the
    pruning as PartitionFilters on ivf_cell (pinned by test).

    ``as_of_seq`` pins the probe to a historical snapshot (round 12,
    the text lake's time travel brought to the vector lake): only
    epochs whose ledger seq is <= the pin and tombstones ISSUED by
    then participate — the epoch restriction is another partition
    filter, so a historical read scans LESS than latest, never more.
    Requires the epoch layout (a flat index has no history).

    ``centroids=None`` resolves the quantizer from the index's own
    ``_quantizer.json`` sidecar (dim/n_cells/centroids wholesale) —
    the index is self-describing, so a probe can never use a drifted
    quantizer by accident and a retrain swap re-points every
    subsequent sidecar-resolved probe automatically."""
    dim, cents = _index_centroids(path, centroids, dim, n_cells)
    rows = _query_rows(
        queries, id_col, vec_col, _probe_cells(vec_col, cents, n_probe)
    )
    scan = spark.read.parquet(path).where(
        F.col("ivf_cell").isin(_probed_cells(rows))
    )
    cb = _ann_scan_restrict(spark, scan, path, as_of_seq)
    return _probe_topk(cb, rows, dict(queries.dtypes)[id_col], k, dim)


def _ann_scan_restrict(
    spark, scan, path, as_of_seq, cols=("neighbor_id", "__cv", "__cn")
):
    """Project a probe scan to ``cols`` + ``__cell``, restricted to
    COMMITTED epochs: latest reads (``as_of_seq=None``) see only
    epochs whose ``_SUCCESS`` marker exists — a concurrent writer's
    in-flight epoch, or a crashed writer's torn one, never serves
    partial rows (round-13 fix; the text lake has always gated every
    read on its ledger, the ANN side only gated time travel). With
    ``as_of_seq`` the gate tightens further to epochs committed at or
    before the pin. Both are epoch-isin PARTITION filters — pruned
    directories, not scanned-and-dropped rows.

    Pending tombstones (issued by the pin) are then anti-joined —
    broadcast, bounded by deletes-since-compaction — so a deleted (or
    superseded) neighbor never displaces a live one; epoch-scoped
    tombstones spare an updated vector's re-insert."""
    has_epoch = "epoch" in scan.columns
    cb = scan.select(
        *cols, *(["epoch"] if has_epoch else []), F.col("ivf_cell").alias("__cell")
    )
    if has_epoch:
        if as_of_seq is None:
            live = _committed_epochs(path)
        else:
            live = sorted(
                e for e, s in _ann_epoch_seqs(path).items() if s <= as_of_seq
            )
        cb = cb.where(F.col("epoch").cast("string").isin(live))
    elif as_of_seq is not None:
        raise ValueError(
            "as_of_seq requires an epoch-layout index "
            "(write_ivf_index(..., epoch='base'))"
        )
    tomb = read_index_tombstones(spark, path, as_of_seq=as_of_seq)
    if tomb is not None:
        cb = _apply_ann_tombstones(cb, tomb)
    return cb.drop("epoch")


def knn_classify(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
    dim: int = 64,
    n_cells: int = 16,
    n_probe: int = 2,
) -> DataFrame:
    """k-NN majority-vote classification over an embedding corpus:
    each query gets the modal label of its k nearest (IVF-candidate,
    exact-rescored) neighbors. Ties break to the smaller label, so the
    result is deterministic. Returns (query_id, pred_label, votes).

    The 100 TB shape: the labeled corpus is the big side (bucketed by
    IVF cell, partition-pruned per probe); the incoming batch to
    classify is the broadcast side. The label rides candidate
    generation via ``carry_cols`` — no second corpus join, so the only
    corpus-sized work is the probed-cell scan itself. Queries drawn
    from the corpus are scored leave-one-out (self is excluded by id).
    """
    nn = ivf_topk(
        corpus,
        queries,
        id_col=id_col,
        vec_col=vec_col,
        k=k,
        dim=dim,
        n_cells=n_cells,
        n_probe=n_probe,
        carry_cols=(label_col,),
    )
    votes = nn.groupBy("query_id", label_col).agg(
        F.count(F.lit(1)).alias("votes")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("votes"), F.asc(label_col)
    )
    return (
        votes.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("query_id", F.col(label_col).alias("pred_label"), "votes")
    )


def semantic_clusters(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    dim: int = 64,
    bands: int | None = None,
    bits_per_band: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic dedup clusters (Abbas et al. 2023):
    embedding pairs with cosine >= threshold (banded sign-LSH
    candidates + exact re-score — never all-pairs) feed distributed
    connected components; every clustered vector gets
    (id, cluster_id, cluster_size) with cluster_id = min member id, so
    ``id == cluster_id`` rows are the semantic keepers and the rest
    are transitive near-duplicates. The pair generation is the
    lsh_threshold_pairs plan (bucketed, capped); the component pass is
    pointer-jumping min-label propagation sized to the PAIR graph, not
    the corpus — both 100 TB-safe by construction."""
    from geosparql_etl_spark.operators.dedup import dedup_clusters

    pairs = lsh_threshold_pairs(
        df, id_col, vec_col, threshold, dim, bands, bits_per_band
    ).select("id_a", "id_b")
    # lsh_threshold_pairs emits dropDuplicates'd (id_a < id_b) pairs —
    # the distinct ordered orientation dedup_clusters' fast path needs
    return dedup_clusters(pairs, unique_pairs=True).select(
        F.col("doc_id").alias(id_col), "cluster_id", "cluster_size"
    )


# --- sign-LSH ANN ------------------------------------------------------------


def _hyperplanes(dim: int, n_planes: int, seed: str = "gsel") -> list[list[float]]:
    """Deterministic pseudo-random unit-free hyperplanes from md5 bytes.

    Components are +-1 derived from digest bits — enough for sign-LSH,
    fully reproducible across runs/machines.
    """
    planes: list[list[float]] = []
    for p in range(n_planes):
        comps: list[float] = []
        d = 0
        while len(comps) < dim:
            digest = hashlib.md5(f"{seed}:{p}:{d}".encode()).digest()
            for byte in digest:
                for bit in range(8):
                    if len(comps) >= dim:
                        break
                    comps.append(1.0 if (byte >> bit) & 1 else -1.0)
            d += 1
        planes.append(comps)
    return planes


def with_lsh_buckets(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    bands: int = 4,
    bits_per_band: int = 8,
    out_col: str = "lsh_buckets",
) -> DataFrame:
    """Add array<long> of band-bucket keys: key = band_index <<
    bits_per_band | sign_bits, so distinct bands can never share a key
    and the downstream equi-join runs on packed longs (cheaper to hash,
    shuffle, and compare than the earlier "b3:0101" strings — measured
    ~2x on the banded candidate join at sf0.1).

    Vectorized pandas_udf: the whole signature is ONE (batch x dim) @
    (dim x planes) matmul per Arrow batch. The native-expression
    formulation (one interpreted fold per plane per row) measured
    ~100us/plane-dot — 6.7s just to bucket 2k vectors; the matmul does
    it in milliseconds. Sign-LSH is approximate by construction, so the
    (ulp-level) summation-order difference vs a sequential fold cannot
    meaningfully change recall — exact re-scoring downstream stays on
    the deterministic JVM fold.
    """
    return df.withColumn(
        out_col, _bucketize_udf(dim, bands, bits_per_band)(F.col(vec_col))
    )


_BUCKETIZE_MEMO: dict = {}


def _bucketize_udf(dim: int, bands: int, bits_per_band: int):
    """Memoized bucketize pandas_udf per (dim, bands, bits_per_band):
    repeated builds reuse one UDF instance (byte-identical plan trees
    for the plan/codegen caches), and the hyperplane matrix is built
    once per process.

    Marked non-deterministic (guide §4.4): a downstream explode's
    implicit size()>0 filter otherwise gets pushed below a repartition
    and the optimizer DUPLICATES the UDF — every embedding crossed the
    Python boundary twice (seen in the sim02 plan as two
    ArrowEvalPython(bucketize) nodes). The function is in fact
    deterministic; the marker only forbids the optimizer to clone or
    reorder it.
    """
    key = (dim, bands, bits_per_band)
    hit = _BUCKETIZE_MEMO.get(key)
    if hit is not None:
        return hit
    from pyspark.sql.functions import pandas_udf

    planes = np.array(_hyperplanes(dim, bands * bits_per_band)).T  # dim x P
    weights = 1 << np.arange(bits_per_band, dtype=np.int64)
    band_base = np.arange(bands, dtype=np.int64) << bits_per_band

    @pandas_udf("array<long>")
    def bucketize(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        m = np.vstack(vecs.to_numpy())  # batch x dim
        bits = (m.astype(np.float64) @ planes) > 0  # batch x P
        packed = (
            bits.reshape(len(m), bands, bits_per_band) @ weights
        ) + band_base  # batch x bands
        return pd.Series(list(packed))

    hit = _BUCKETIZE_MEMO[key] = bucketize.asNondeterministic()
    return hit


def lsh_params_for(
    threshold: float, miss: float = 1e-6, bits_per_band: int | None = None
) -> tuple[int, int]:
    """(bands, bits_per_band) so a pair AT the cosine threshold shares a
    band bucket with probability >= 1 - miss.

    Sign-LSH collision probability per plane is p = 1 - arccos(t)/pi;
    a band of b planes matches with p^b, and L bands miss with
    (1 - p^b)^L. Wider bands (more bits) shrink buckets — and candidate
    volume — but need more bands for the same recall. The pruning power
    is set by the threshold itself: at t=0.9 (real near-dup territory)
    8-bit bands prune buckets to ~1/256 of the corpus; at t=0.4 (66
    degrees) ANY recall~1 configuration generates more candidates than
    brute force — measured on the test embeddings: zero-miss configs at
    t=0.4 cost 2-8x all-pairs, while the first sub-1x config already
    misses pairs. Low thresholds belong to the exact path; banding is
    the scale path for the thresholds dedup actually uses.
    """
    import math

    p = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    if bits_per_band is None:
        bits_per_band = 8 if threshold >= 0.85 else 4 if threshold >= 0.6 else 2
    per_band = p**bits_per_band
    if per_band >= 1.0:
        return 1, bits_per_band
    bands = max(1, math.ceil(math.log(miss) / math.log(1.0 - per_band)))
    return bands, bits_per_band


def lsh_threshold_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    dim: int = 64,
    bands: int | None = None,
    bits_per_band: int | None = None,
) -> DataFrame:
    """(id_a, id_b, cosine_sim) for pairs with cosine >= threshold, via
    LSH band candidates + exact re-score — the bucketed replacement for
    the all-pairs ``pairwise_cosine`` cross join.

    Candidates share >= 1 band bucket (band equi-join — the plan has no
    CartesianProduct / BroadcastNestedLoopJoin); pair cosines are
    computed bit-identically to the deterministic sequential JVM fold
    inside the grouped scorer (see _bucket_pair_scorer), so precision
    is exact and recall is the band-collision probability (see
    lsh_params_for; defaults target <= 1e-6 miss per pair at the
    threshold). Ids are assumed unique per row (every caller's
    contract): the pair set is keyed by id, and a corpus carrying two
    DIFFERENT vectors under one id would score only the co-bucketed
    row combinations.
    """
    if bands is None or bits_per_band is None:
        auto_bands, auto_bits = lsh_params_for(
            threshold, bits_per_band=bits_per_band
        )
        bands = bands if bands is not None else auto_bands
        bits_per_band = bits_per_band if bits_per_band is not None else auto_bits

    bucketed = with_lsh_buckets(
        spread(df), vec_col, dim, bands, bits_per_band
    ).select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__vec"),
        F.explode("lsh_buckets").alias("__bucket"),
    )
    # Within-bucket vectorized candidate scoring (round 14, guide §4.2 +
    # §8): the former row-level bucket self-join folded the interpreted
    # HOF dot over EVERY co-bucketed pair — measured 15-30s of executor
    # CPU at sf0.1 for a 920-row result, and it shuffled O(sum n_b^2)
    # candidate rows. Instead, each vector crosses to Python once per
    # band, each bucket's pair scores are one numpy float64 matmul, and
    # only maybe-above-threshold id pairs (cut = threshold - 1e-6, see
    # _bucket_pair_scorer for the margin proof) survive to the exact
    # re-score. Buckets are split into deterministic chunks of
    # _LSH_SCORE_CHUNK rows and chunk PAIRS are scored, so one task
    # never holds more than two chunks however large a bucket grows;
    # replicated bytes scale as n_b^2/chunk — orders of magnitude below
    # the n_b^2 candidate rows the join shuffled.
    cut = float(threshold) - 1e-6
    chunked = bucketed.withColumn(
        "__nch",
        F.ceil(
            F.count(F.lit(1)).over(Window.partitionBy("__bucket"))
            / F.lit(_LSH_SCORE_CHUNK)
        ).cast("int"),
    ).select(
        "__id",
        "__vec",
        "__bucket",
        F.pmod(F.xxhash64("__id"), F.col("__nch")).cast("int").alias("__ch"),
        "__nch",
    )
    replicated = chunked.select(
        "__id",
        "__vec",
        "__ch",
        F.col("__bucket").alias("__bk"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.col("__nch") - 1),
                lambda x: F.struct(
                    F.least(F.col("__ch"), x).alias("ci"),
                    F.greatest(F.col("__ch"), x).alias("cj"),
                ),
            )
        ).alias("__cp"),
    )
    # Round 15: the scorer emits the EXACT cosine itself (seq_dot /
    # seq_norm reproduce the sequential JVM fold bit for bit) and
    # applies the exact >= threshold cut with Spark's NaN-is-greatest
    # comparison semantics, so the two re-attach joins (two extra
    # corpus scans + shuffles at scale) and the interpreted per-pair
    # fold are gone. Duplicate emissions across bands/chunk-pairs carry
    # identical value bits, so the id-pair dedup absorbs them unchanged.
    idt = dict(df.dtypes)[id_col]
    cand = (
        replicated.select(
            "__id", "__vec", "__ch", "__bk",
            F.col("__cp.ci").alias("__ci"),
            F.col("__cp.cj").alias("__cj"),
        )
        .groupBy("__bk", "__ci", "__cj")
        .applyInPandas(
            _bucket_pair_scorer(float(threshold), idt),
            f"id_a {idt}, id_b {idt}, __cs double, __flag tinyint",
        )
        .dropDuplicates()
    )
    return cand.select(
        "id_a", "id_b", _scan_value("cosine_sim")
    ).where(F.col("cosine_sim") >= threshold)


# Chunk cap for the within-bucket vectorized scorer: one grouped-map
# task holds at most TWO chunks of float64 vectors (2 x 2048 x dim x 8B
# = 4 MB at dim=64) regardless of how large a band bucket grows at
# corpus scale — the memory bound the raw per-bucket grouped map would
# not have.
_LSH_SCORE_CHUNK = 2048

_LSH_SCORER_MEMO: dict = {}


def _bucket_pair_scorer(threshold: float, id_type: str = "long"):
    """Grouped-map candidate scorer for one (bucket, chunk_i, chunk_j)
    group (guide §4.2 vectorized batch work + §8 decide-with-small-rows).

    Phase 1 scores every cross/within-chunk pair with ONE float64 numpy
    matmul and keeps (id_a < id_b) pairs whose batch cosine is >=
    threshold - 1e-6: the float64 batch cosine differs from the
    sequential fold by <= ~dim*eps*sum|a_i*b_i| (< 1e-10 on unit-scale
    embeddings), six orders inside the margin — no true pair can be cut.
    Non-finite batch cosines are kept unconditionally (Spark's
    ``NaN >= t`` is TRUE — NaN compares greater than everything).

    Phase 2 recomputes the kept pairs' cosine with seq_dot/seq_norm —
    the same IEEE-754 double ops in the same order as the JVM fold the
    re-score join used to run, so the emitted value and the exact
    >= threshold cut (NaN passing, per Spark comparison semantics) are
    bit-identical to the legacy plan's. NaN/NULL ride the __flag
    column (Arrow writes float NaN as SQL NULL).

    ``id_type`` is the id column's Spark dtype — the output schema
    must carry it verbatim (string ids etc., not hardcoded long).
    Memoized per (threshold, id_type) so repeated builds reuse one
    function instance (byte-identical plan trees for the codegen/plan
    caches).
    """
    key = (threshold, id_type)
    hit = _LSH_SCORER_MEMO.get(key)
    if hit is not None:
        return hit

    cut = threshold - 1e-6
    empty = {
        "id_a": np.array([], dtype=object),
        "id_b": np.array([], dtype=object),
        "__cs": np.array([], dtype=np.float64),
        "__flag": np.array([], dtype=np.int8),
    }

    def emit(pdf: pd.DataFrame) -> pd.DataFrame:
        ci = int(pdf["__ci"].iloc[0])
        cj = int(pdf["__cj"].iloc[0])
        a = pdf[pdf["__ch"] == ci]
        b = a if cj == ci else pdf[pdf["__ch"] == cj]
        if a.empty or b.empty:
            return pd.DataFrame(empty)
        ma = np.vstack(a["__vec"].to_numpy()).astype(np.float64)
        mb = ma if cj == ci else np.vstack(
            b["__vec"].to_numpy()
        ).astype(np.float64)
        na = np.sqrt(np.einsum("ij,ij->i", ma, ma))
        nb = na if cj == ci else np.sqrt(np.einsum("ij,ij->i", mb, mb))
        denom = np.outer(na, nb)
        # (denom > 0) | isnan: Spark's comparison treats NaN as
        # greatest, so a NaN denominator takes the THEN branch — the
        # plain where() would mask the NaN to 0.0 and drop a pair the
        # exact semantics keep
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(
                (denom > 0) | np.isnan(denom), (ma @ mb.T) / denom, 0.0
            )
        ia, ib = np.nonzero((cos >= cut) | ~np.isfinite(cos))
        if len(ia) == 0:
            return pd.DataFrame(empty)
        ids_a = a["__id"].to_numpy()[ia]
        ids_b = b["__id"].to_numpy()[ib]
        keep = ids_a != ids_b  # drop self-pairs
        ia, ib, ids_a, ids_b = ia[keep], ib[keep], ids_a[keep], ids_b[keep]
        if len(ia) == 0:
            return pd.DataFrame(empty)
        # exact values, JVM-fold op order (the legacy expression:
        # CASE WHEN na*nb > 0 THEN dot/(na*nb) ELSE 0.0 END, with
        # Spark's NaN-greatest semantics in both the CASE and the
        # final >= threshold filter)
        d = seq_dot(ma[ia], mb[ib])
        den = seq_norm(ma[ia]) * seq_norm(mb[ib])
        with np.errstate(divide="ignore", invalid="ignore"):
            val = np.where((den > 0) | np.isnan(den), d / den, 0.0)
        passed = (val >= threshold) | np.isnan(val)
        if not passed.any():
            return pd.DataFrame(empty)
        val, ids_a, ids_b = val[passed], ids_a[passed], ids_b[passed]
        lo = np.minimum(ids_a, ids_b)
        hi = np.maximum(ids_a, ids_b)
        flags = np.where(np.isnan(val), _SCAN_NAN, _SCAN_OK).astype(np.int8)
        return pd.DataFrame(
            {
                "id_a": lo,
                "id_b": hi,
                "__cs": np.where(np.isnan(val), 0.0, val),
                "__flag": flags,
            }
        )

    _memo_put(_LSH_SCORER_MEMO, key, emit)
    return emit


_CELL_MAX_MEMO: dict = {}


def cell_max_lower_cosine(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cell_col: str,
    dim: int = 64,
) -> DataFrame:
    """(id_col, max_lower_cos): for every row, the maximum
    round(cosine, 6) against any SAME-CELL row with a strictly smaller
    id — the SemDeDup verdict input (d18, llm25). Rows with no lower
    same-cell neighbor emit nothing (callers left-join and read NULL).

    Round 15 (guide §4.2 + §8): the legacy shape was a cell self-join
    with three interpreted folds per pair; this computes each pair's
    cosine bit-exactly in a grouped numpy scorer (seq_dot/seq_norm
    reproduce the JVM fold; the CASE WHEN denom > 0 branch follows
    Spark's NaN-greatest comparison) and pre-aggregates the per-id max
    inside each group — max commutes with the final round because
    round(x, 6) is monotone non-decreasing and the values are exact.
    Cells are split into chunk PAIRS (same bound as the LSH scorer) so
    one task never holds more than two chunks of a giant cell."""
    idt = dict(df.dtypes)[id_col]
    src = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__vec"),
        F.col(cell_col).alias("__bk"),
    )
    chunked = src.withColumn(
        "__nch",
        F.ceil(
            F.count(F.lit(1)).over(Window.partitionBy("__bk"))
            / F.lit(_LSH_SCORE_CHUNK)
        ).cast("int"),
    ).select(
        "__id",
        "__vec",
        "__bk",
        F.pmod(F.xxhash64("__id"), F.col("__nch")).cast("int").alias("__ch"),
        "__nch",
    )
    replicated = chunked.select(
        "__id",
        "__vec",
        "__ch",
        "__bk",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.col("__nch") - 1),
                lambda x: F.struct(
                    F.least(F.col("__ch"), x).alias("ci"),
                    F.greatest(F.col("__ch"), x).alias("cj"),
                ),
            )
        ).alias("__cp"),
    )
    partial = (
        replicated.select(
            "__id", "__vec", "__ch", "__bk",
            F.col("__cp.ci").alias("__ci"),
            F.col("__cp.cj").alias("__cj"),
        )
        .groupBy("__bk", "__ci", "__cj")
        .applyInPandas(
            _cell_max_scorer(idt), f"__id {idt}, __cs double, __flag tinyint"
        )
    )
    return partial.groupBy("__id").agg(
        F.round(F.max(_scan_raw()), 6).alias("max_lower_cos")
    ).select(F.col("__id").alias(id_col), "max_lower_cos")


def _cell_max_scorer(id_type: str):
    """Grouped-map scorer for one (cell, chunk_i, chunk_j) group: the
    bit-exact cosine of every (higher id, lower id) pair across/within
    the two chunks, pre-aggregated to one row per higher id (its max).
    NaN rides the flag column (Arrow writes NaN as null); Spark's max
    treats NaN as greatest, matching the legacy aggregate."""
    hit = _CELL_MAX_MEMO.get(id_type)
    if hit is not None:
        return hit

    empty = {
        "__id": np.array([], dtype=object),
        "__cs": np.array([], dtype=np.float64),
        "__flag": np.array([], dtype=np.int8),
    }

    def exact_cos(ma, mb, na, nb):
        """(len(ma), len(mb)) exact pair cosines: seq-fold dot per pair
        (outer-product accumulation keeps each pair's op order), the
        legacy CASE semantics for the denominator."""
        acc = np.zeros((ma.shape[0], mb.shape[0]), dtype=np.float64)
        for i in range(ma.shape[1]):
            acc = acc + np.outer(ma[:, i], mb[:, i])
        den = np.outer(na, nb)
        with np.errstate(divide="ignore", invalid="ignore"):
            return np.where((den > 0) | np.isnan(den), acc / den, 0.0)

    def emit(pdf: pd.DataFrame) -> pd.DataFrame:
        ci = int(pdf["__ci"].iloc[0])
        cj = int(pdf["__cj"].iloc[0])
        a = pdf[pdf["__ch"] == ci]
        b = a if cj == ci else pdf[pdf["__ch"] == cj]
        if a.empty or b.empty:
            return pd.DataFrame(empty)
        ma = np.vstack(a["__vec"].to_numpy()).astype(np.float64)
        mb = ma if cj == ci else np.vstack(
            b["__vec"].to_numpy()
        ).astype(np.float64)
        na = seq_norm(ma)
        nb = na if cj == ci else seq_norm(mb)
        ids_a = a["__id"].to_numpy()
        ids_b = b["__id"].to_numpy()
        cos = exact_cos(ma, mb, na, nb)
        out_ids, out_vals = [], []
        # each row's max over LOWER-id rows of the other chunk (both
        # directions; within-chunk pairs appear in the ci == cj group)
        lower_ab = ids_b[None, :] < ids_a[:, None]  # b lower than a-row
        sides = [(ids_a, lower_ab, cos)]
        if cj != ci:
            sides.append(
                (
                    ids_b,
                    ~lower_ab.T & (ids_a[None, :] != ids_b[:, None]),
                    cos.T,
                )
            )
        for rows, mask, mat in sides:
            masked = np.where(mask, mat, -np.inf)  # drops masked-out NaN
            has = mask.any(axis=1)
            if not has.any():
                continue
            maxv = np.max(masked[has], axis=1)  # NaN if a SELECTED pair is
            out_ids.extend(rows[has])  # NaN — Spark max is NaN-greatest
            out_vals.extend(maxv)
        if not out_ids:
            return pd.DataFrame(empty)
        vals = np.asarray(out_vals, dtype=np.float64)
        flags = np.where(np.isnan(vals), _SCAN_NAN, _SCAN_OK).astype(np.int8)
        return pd.DataFrame(
            {
                "__id": np.asarray(out_ids, dtype=object),
                "__cs": np.where(np.isnan(vals), 0.0, vals),
                "__flag": flags,
            }
        )

    _memo_put(_CELL_MAX_MEMO, id_type, emit)
    return emit


def embedding_neardup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    dim: int = 64,
    mode: str = "lsh",
    bands: int | None = None,
    bits_per_band: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup dedup: (keeper_id, n_dups_absorbed) —
    pairs with cosine >= threshold form duplicates; the lower id of
    each pair wins (greedy by id), ids absorbed by a keeper are counted.

    ``mode='lsh'`` (default) routes candidates through the banded
    equi-join (lsh_threshold_pairs) — the 100 TB path; ``mode='exact'``
    is the all-pairs brute force kept as the oracle baseline.
    """
    if mode == "lsh":
        pairs = lsh_threshold_pairs(
            df, id_col, vec_col, threshold, dim, bands, bits_per_band
        )
    elif mode == "exact":
        pairs = pairwise_cosine(
            df, df, id_col=id_col, vec_col=vec_col,
            left_alias="id_a", right_alias="id_b", dim=dim,
        ).where(
            (F.col("id_a") < F.col("id_b")) & (F.col("cosine_sim") >= threshold)
        )
    else:
        raise ValueError(f"mode must be 'lsh' or 'exact', got {mode!r}")
    # Keeper selection in ONE pass over the pairs: the obvious
    # absorbed-groupBy + loser-anti-join reads `pairs` twice, and
    # exchange reuse does not fire across the re-aliased branches — at
    # sf0.1 that re-ran the whole banded candidate pipeline (measured
    # 9.8s -> 5.6s). Exploding each pair into (id_a, is_a=1),
    # (id_b, is_a=0) folds both aggregates into one groupBy: a keeper
    # is an id whose every occurrence is on the a side (min(is_a)=1),
    # and its absorbed count is then its row count (sum(is_a)).
    ids = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("id_a").alias("id"), F.lit(1).alias("is_a")),
                F.struct(F.col("id_b").alias("id"), F.lit(0).alias("is_a")),
            )
        ).alias("x")
    ).select("x.id", "x.is_a")
    stats = ids.groupBy("id").agg(
        F.sum("is_a").alias("n_dups_absorbed"), F.min("is_a").alias("__m")
    )
    return stats.where(F.col("__m") == 1).select(
        F.col("id").alias(id_col), "n_dups_absorbed"
    )


def ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    dim: int = 64,
    bands: int = 4,
    bits_per_band: int = 8,
) -> DataFrame:
    """Approximate top-k: candidates share >= 1 LSH band bucket, then
    exact cosine re-score. Recall < 1 by construction; increase bands
    (more probes) or decrease bits (wider buckets) to raise it."""
    cb = with_lsh_buckets(spread(corpus), vec_col, dim, bands, bits_per_band).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        l2_norm(F.col(vec_col), dim).alias("__cn"),
        F.explode("lsh_buckets").alias("__bucket"),
    )
    qb = with_lsh_buckets(queries, vec_col, dim, bands, bits_per_band).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        l2_norm(F.col(vec_col), dim).alias("__qn"),
        F.explode("lsh_buckets").alias("__bucket"),
    )
    cand = (
        cb.join(F.broadcast(qb), "__bucket")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "__qv", "__qn", "__cv", "__cn")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    denom = F.col("__qn") * F.col("__cn")
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.when(denom > 0, dot(F.col("__qv"), F.col("__cv"), dim) / denom)
        .otherwise(F.lit(0.0))
        .alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


# --- int8 quantization --------------------------------------------------------


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    q_col: str = "q8",
    scale_col: str = "q8_scale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x|/127,
    q_i = floor(x_i/scale + 0.5) in [-127, 127].

    Why: a 64-dim float32 embedding is 256 bytes; int8 is 64 — at 100 TB
    the scan + shuffle bandwidth of every candidate-generation stage
    drops 4x, and COSINE of quantized vectors needs no dequantization at
    all (the per-vector scale cancels in dot/(|a||b|)). Exact re-score
    on the float column stays the precision backstop for survivors.

    floor(x+0.5) is used instead of round() because its result is
    engine-portable bit-for-bit (SQL round() half-away vs numpy
    half-even would desync the oracle).

    HOF pitfall engineered around: referencing a same-select scale
    expression inside the transform lambda gets inlined by
    CollapseProject and re-evaluated PER ELEMENT (interpreted lambdas
    re-evaluate every referenced subtree — array_max(64) x 64 elements
    per row). Binding the scale through a single-element array and an
    outer transform makes it a lambda VARIABLE of the inner lambda:
    evaluated once per row, referenced 64 times for free.
    """
    v = F.col(vec_col)
    s = (
        F.array_max(F.transform(v, lambda x: F.abs(x.cast("double")))) / 127.0
    )
    q = F.element_at(
        F.transform(
            F.array(s),
            lambda sv: F.transform(
                v,
                lambda x: F.when(
                    sv > 0, F.floor(x.cast("double") / sv + F.lit(0.5))
                )
                .otherwise(F.lit(0))
                .cast("int"),
            ),
        ),
        1,
    )
    return df.withColumn(q_col, q).withColumn(scale_col, s)


def quantized_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact-shape top-k ranked by INT8 cosine: integer dot products
    over quantized vectors (per-vector scales cancel in cosine), float
    exact cosine carried alongside so the quantization error is
    observable per pair. Returns (query_id, neighbor_id, rank, q_sim,
    exact_sim, abs_err)."""
    qz_c = quantize_embeddings(spread(corpus), vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("q8").alias("__cq"),
        F.col(vec_col).alias("__cv"),
        l2_norm(F.col("q8")).alias("__cqn"),
        l2_norm(F.col(vec_col)).alias("__cn"),
    )
    qz_q = quantize_embeddings(queries, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col("q8").alias("__qq"),
        F.col(vec_col).alias("__qv"),
        l2_norm(F.col("q8")).alias("__qqn"),
        l2_norm(F.col(vec_col)).alias("__qn"),
    )
    joined = qz_c.crossJoin(F.broadcast(qz_q)).where(
        F.col("neighbor_id") != F.col("query_id")
    )
    qden = F.col("__qqn") * F.col("__cqn")
    eden = F.col("__qn") * F.col("__cn")
    q_sim = F.when(
        qden > 0, dot(F.col("__qq"), F.col("__cq")) / qden
    ).otherwise(F.lit(0.0))
    e_sim = F.when(
        eden > 0, dot(F.col("__qv"), F.col("__cv")) / eden
    ).otherwise(F.lit(0.0))
    scored = joined.select(
        "query_id",
        "neighbor_id",
        q_sim.alias("q_sim"),
        e_sim.alias("exact_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("q_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.round("q_sim", 6).alias("q_sim"),
            F.round("exact_sim", 6).alias("exact_sim"),
            F.round(F.abs(F.col("q_sim") - F.col("exact_sim")), 6).alias("abs_err"),
        )
    )


# --- product quantization ----------------------------------------------------


def _pq_codebooks(
    dim: int = 64, m: int = 8, k: int = 16, seed: str = "gsel-pq"
) -> list[list[list[float]]]:
    """``m`` per-subspace codebooks of ``k`` centroids (md5-derived
    components in [-1, 1], fully deterministic — same reproducibility
    argument as _ivf_centroids; production would k-means a sample)."""
    sub = dim // m
    books: list[list[list[float]]] = []
    for j in range(m):
        cents: list[list[float]] = []
        for c in range(k):
            comps: list[float] = []
            d = 0
            while len(comps) < sub:
                digest = hashlib.md5(f"{seed}:{j}:{c}:{d}".encode()).digest()
                comps.extend(b / 127.5 - 1.0 for b in digest)
                d += 1
            cents.append(comps[:sub])
        books.append(cents)
    return books


def with_pq_code(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    k: int = 16,
    out_col: str = "pq_code",
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Product-quantization encoding: each vector becomes ``m`` small
    codes (nearest centroid per subspace, squared-L2, ties to the
    lowest code). With m=8, k=16 a 64-dim float vector compresses
    256 bytes -> 8 nibbles — the representation that makes
    billion-scale ANN shuffles and index scans cheap.

    Vectorized: one (batch x sub) @ (sub x k) matmul per subspace per
    Arrow batch (see with_lsh_buckets for why not per-row folds).
    ``codebooks`` overrides the seeded books with trained ones
    (``pq_train`` output).
    """
    from pyspark.sql.functions import pandas_udf

    books = np.array(
        codebooks if codebooks is not None else _pq_codebooks(dim, m, k)
    )  # m x k x sub
    sub = dim // m

    @pandas_udf("array<int>")
    def encode(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        mat = np.vstack(vecs.to_numpy()).astype(np.float64)
        codes = np.empty((len(mat), m), dtype=np.int32)
        for j in range(m):
            x = mat[:, j * sub : (j + 1) * sub]
            c = books[j]
            # ||x - c||^2 ranking: ||x||^2 is constant per row, drop it
            d2 = -2.0 * (x @ c.T) + (c * c).sum(axis=1)[None, :]
            codes[:, j] = np.argmin(d2, axis=1)
        return pd.Series(list(codes))

    return df.withColumn(out_col, encode(F.col(vec_col)))


def pq_reconstruct(
    code_col: Column | None,
    dim: int = 64,
    m: int = 8,
    k: int = 16,
    codebooks: list[list[list[float]]] | None = None,
    code_at=None,
) -> Column:
    """Decode a PQ code to its approximate vector: per-subspace
    codebook lookup (literal arrays, pure native expressions) +
    concat. Lives JVM-side so downstream scoring stays in codegen.

    ``code_at`` overrides how subspace j's code is read — the
    array-column accessor by default, a shift/mask over a
    pack_pq_code BIGINT for the persisted layout (ivf_index_pq_topk).
    """
    from geosparql_etl_spark.functions.geometry import memo_tree

    books = codebooks if codebooks is not None else _pq_codebooks(dim, m, k)
    if code_at is None:
        def code_at(j):  # noqa: E306
            return F.element_at(code_col, j + 1)
    parts = []
    for j in range(m):
        # the LUT literals are k x sub F.lit py4j calls per subspace
        # (~1500 round trips / ~2s per reconstruct at m=16 — round-14
        # profiling); pure literal trees, memoized per codebook
        # tolist() before repr: numpy's repr elides long arrays with
        # '...', which would alias different codebooks to one key
        bj = books[j]
        if hasattr(bj, "tolist"):
            bj = bj.tolist()
        lut = memo_tree(
            ("pq_lut", repr(bj)),
            lambda: F.array(
                *[F.array(*[F.lit(float(v)) for v in c]) for c in bj]
            ),
        )
        parts.append(F.element_at(lut, code_at(j) + 1))
    return F.concat(*parts)


_ADC_SCAN_MEMO: dict = {}


def _adc_scan_fn(blk: _QueryBlock, books, m, k, shortlist, packed: bool, carry_vec: bool):
    """mapInPandas scan computing the ADC squared distance
    d2 = (qq - 2*dot(qv, rv)) + rr over PQ codes, emitting per
    (query, batch) only rows that can reach the query's global
    top-``shortlist`` by (round(d2, 6) asc, id asc).

    Phase 1 ranks with LUT-decomposed float64 distances (per-subspace
    dot tables — no per-row reconstruction): these differ from the
    exact sequential fold only by summation order, < ~1e-11 on
    unit-scale data. Cut proof: if a row x is cut, at least
    shortlist+1 eligible batch rows satisfy d2'(i) <= cut - 2e-6, so
    exact d2(i) < d2(x) - 1e-6, so round6(d2(i)) < round6(d2(x))
    strictly (two doubles more than 1e-6 apart cannot round to the
    same 6-decimal value), i.e. shortlist+1 rows outrank x and x is
    not in the true top-shortlist. Non-finite phase-1 distances are
    kept unconditionally and never poison the cut (set to +inf for
    the order statistic); rows with a NULL id or the query's own id
    are never emitted (_pairable).

    Phase 2 recomputes kept pairs bit-exactly: rv gathered from the
    same codebook doubles pq_reconstruct emits, seq_dot replicating
    the JVM fold's operation order, and ((qq - 2.0*dot) + rr) the
    reference expression's evaluation order — so the JVM-side
    round(.., 6) of the emitted value equals the reference approx_d2
    bit for bit. Rows with null cells match no query (the cell
    equi-join); rows with null/malformed codes, and every pair of a
    query row whose vector is NULL or not ``dim`` wide, emit NULL
    (reconstruct-of-null and the zip_with fold null the distance,
    which sorts FIRST under asc) and are always kept. ``__qrow`` is
    the pair's query row in the collected query side."""
    sub = books.shape[2]
    bits = max(1, (k - 1).bit_length())
    mask = (1 << bits) - 1
    nq = len(blk.ids)
    qmat, qq, qbad = blk.mat, blk.qq, ~blk.full
    # phase-1 tables: LUT[j][c][q] = books[j][c] . q_sub_j ; RLUT[j][c]
    qsub = qmat.reshape(nq, m, sub)
    lut = np.stack(
        [books[j] @ qsub[:, j, :].T for j in range(m)]
    )  # (m, k, nq)
    rlut = (books * books).sum(axis=2)  # (m, k)

    def scan(batches):
        q_arr = blk.id_series()
        cell_to_q = blk.cell_queries() if blk.cells is not None else None
        for pdf in batches:
            n = len(pdf)
            if n == 0 or nq == 0:
                continue
            if packed:
                pk = pdf["__pq"].to_numpy()
                bad = pd.isnull(pk)
                pk64 = np.where(bad, 0, pk).astype(np.int64).view(np.uint64)
                codes = np.empty((n, m), dtype=np.int64)
                for j in range(m):
                    codes[:, j] = (
                        (pk64 >> np.uint64(bits * (m - 1 - j))) & mask
                    ).astype(np.int64)
            else:
                cvals = pdf["__code"].to_numpy()
                bad = np.zeros(n, dtype=bool)
                codes = np.zeros((n, m), dtype=np.int64)
                for i, cv in enumerate(cvals):
                    if cv is None or len(cv) != m:
                        bad[i] = True
                    else:
                        codes[i] = cv
            ids = pdf["__id"].to_numpy()
            # eligibility (n, nq): pairable, and in a probed cell
            ok = _pairable(ids, blk)
            if cell_to_q is not None:
                cells = pdf["__cell"].to_numpy()
                elig = np.zeros((n, nq), dtype=bool)
                notnull = pd.notnull(cells)
                for c in pd.unique(cells[notnull]):
                    qidx = cell_to_q.get(c)
                    if qidx is not None:
                        elig[np.ix_(cells == c, qidx)] = True
                ok &= elig
            # phase 1: LUT distances + per-(query, batch) cut
            qdot = lut[0][codes[:, 0], :]
            rr = rlut[0][codes[:, 0]]
            for j in range(1, m):
                qdot = qdot + lut[j][codes[:, j], :]
                rr = rr + rlut[j][codes[:, j]]
            d2p = qq[None, :] - 2.0 * qdot + rr[:, None]
            always = ~np.isfinite(d2p) | bad[:, None] | qbad[None, :]
            d2cut = np.where(ok & ~always, d2p, np.inf)
            kth = min(shortlist, n - 1)
            cuts = np.partition(d2cut, kth, axis=0)[kth, :] + 2e-6
            ri, qi = np.nonzero(ok & ((d2cut <= cuts[None, :]) | always))
            if len(ri) == 0:
                continue
            # phase 2: bit-exact values for kept pairs
            rv = np.concatenate(
                [books[j][codes[ri, j]] for j in range(m)], axis=1
            )  # (P, dim)
            d = seq_dot(qmat[qi], rv)
            rr_e = seq_dot(rv, rv)
            d2 = (qq[qi] - 2.0 * d) + rr_e
            flags = np.where(np.isnan(d2), _SCAN_NAN, _SCAN_OK).astype(
                np.int8
            )
            flags[bad[ri] | qbad[qi]] = _SCAN_NULL
            out = {
                "query_id": q_arr.iloc[qi].to_numpy(),
                "neighbor_id": ids[ri],
                "__qrow": (blk.row0 + qi).astype(np.int32),
                "__cs": np.where(np.isnan(d2), 0.0, d2),
                "__flag": flags,
            }
            if carry_vec:
                out["__v"] = pdf["__v"].to_numpy()[ri]
            yield pd.DataFrame(out)

    return scan


def _adc_scan_build(
    codes_df,
    rows,
    books,
    m,
    k,
    shortlist,
    qtype,
    ctype,
    packed=False,
    carry_vtype=None,
):
    """Wire _adc_scan_fn onto a prepared codes frame (columns __id +
    __code|__pq [+ __cell] [+ __v]), one scan per query block, and
    return the scored candidate frame (query_id, neighbor_id, __qrow,
    __cs, __flag[, __v]). Rows collected with ``__cells`` are matched
    to the corpus rows of their probed cells only."""
    books64 = np.asarray(books, dtype=np.float64)
    schema = (
        f"query_id {qtype}, neighbor_id {ctype}, __qrow int, "
        "__cs double, __flag tinyint"
    )
    if carry_vtype:
        schema += f", __v {carry_vtype}"

    def block_scan(blk):
        scan = _memo_scan(
            _ADC_SCAN_MEMO,
            blk.key(
                "adc", books64.tobytes(), int(m), int(k), int(shortlist),
                bool(packed), schema,
            ),
            lambda: _adc_scan_fn(
                blk, books64, m, k, shortlist, packed, carry_vtype is not None
            ),
        )
        return codes_df.mapInPandas(scan, schema)

    return _scan_blocks(rows, books64.shape[0] * books64.shape[2], block_scan)


def _adc_shortlist(cand: DataFrame, shortlist: int, *extra) -> DataFrame:
    """Per-query top-``shortlist`` of an ADC candidate frame by
    (round(d2, 6) asc, id asc), self pairs excluded; keeps
    (query_id, neighbor_id, __qrow, approx_d2, *extra)."""
    approx = cand.where(F.col("neighbor_id") != F.col("query_id")).select(
        "query_id",
        "neighbor_id",
        "__qrow",
        F.round(_scan_raw(), 6).alias("approx_d2"),
        *extra,
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.asc("approx_d2"), F.asc("neighbor_id")
    )
    return approx.withColumn("__rn1", F.row_number().over(w1)).where(
        F.col("__rn1") <= shortlist
    )


def _query_frame(spark, rows, queries: DataFrame, vec_col: str) -> DataFrame:
    """The collected query rows as a local (__qrow, __qv, __qn) frame:
    the shortlist re-attaches each pair's OWN query row (duplicate ids
    included), and the scan and the exact stage provably see the same
    query evaluation."""
    return local_frame(
        spark,
        [(i, r["__qv"], r["__qn"]) for i, r in enumerate(rows)],
        f"__qrow int, __qv {dict(queries.dtypes)[vec_col]}, __qn double",
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kq: int = 5,
    dim: int = 64,
    m: int = 8,
    k: int = 16,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """PQ approximate top-k: neighbors ranked by squared L2 between the
    query and the RECONSTRUCTED (decoded) corpus vector — classic
    asymmetric distance computation over the 8-nibble codes.

    Scale shape: the corpus is scanned as codes (32x smaller than the
    float vectors), the query side is collected once, and only
    (query, neighbor, distance) rows survive. No shuffle of raw
    vectors anywhere. The ADC distance is computed bit-exactly inside
    the codes scan (see _adc_scan_fn): the value is the reference
    round((qq - 2*dot(qv, rv)) + dot(rv, rv), 6) over
    ``pq_reconstruct``'s vector.
    """
    books = codebooks if codebooks is not None else _pq_codebooks(dim, m, k)
    rows = _query_rows(queries, id_col, vec_col)
    cb = with_pq_code(spread(corpus), vec_col, dim, m, k, codebooks=books)
    codes_df = cb.select(
        F.col(id_col).alias("__id"), F.col("pq_code").alias("__code")
    )
    cand = _adc_scan_build(
        codes_df, rows, books, m, k, kq,
        dict(queries.dtypes)[id_col], dict(corpus.dtypes)[id_col],
    )
    scored = cand.where(F.col("neighbor_id") != F.col("query_id")).select(
        "query_id",
        "neighbor_id",
        F.round(_scan_raw(), 6).alias("approx_d2"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("approx_d2"), F.asc("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= kq
    )


def _exact_cosine_topk(cands: DataFrame, kq: int, dim: int) -> DataFrame:
    """Shared verify stage of the composed ANN paths: exact rounded
    cosine over (query_id, neighbor_id, __qv, __qn, __cv, __cn)
    candidate rows, per-query top ``kq`` with the id tie-break. Lives
    in ONE place because sim23 pins the persisted and in-memory paths
    EXACTLY equal — a rounding/tie change must hit both at once."""
    denom = F.col("__qn") * F.col("__cn")
    exact = cands.select(
        "query_id",
        "neighbor_id",
        F.round(
            F.when(denom > 0, dot(F.col("__qv"), F.col("__cv"), dim) / denom)
            .otherwise(F.lit(0.0)),
            6,
        ).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return exact.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= kq
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kq: int = 5,
    shortlist: int = 20,
    dim: int = 64,
    n_cells: int = 16,
    n_probe: int = 2,
    m: int = 8,
    k: int = 16,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """The composed billion-scale ANN pipeline: IVF cells prune which
    partitions are read, PQ codes make the per-cell scan cheap, exact
    cosine re-scores only the shortlist.

    Stage 1 (prune):   candidates = corpus rows in the query's n_probe
                       nearest cells — at scale the corpus is laid out
                       partitioned by cell, so this is partition
                       pruning, not a filter.
    Stage 2 (scan):    rank candidates by PQ asymmetric distance inside
                       the codes scan (_adc_scan_fn — bit-exact
                       seq-fold distances, LUT prefilter), keep
                       ``shortlist`` per query.
    Stage 3 (verify):  exact deterministic cosine on the shortlist
                       only (the collected query rows re-attach to the
                       SHORTLIST only); final top ``kq``.

    Both rankings order on ROUNDED scores with id tie-breaks, so the
    result is deterministic and oracle-replicable end to end.
    ``centroids``/``codebooks`` swap in TRAINED quantizers (lloyd_train
    / pq_train output) — the shippable configuration (sim22 measures
    the seeded-vs-trained gap end to end).
    """
    books = codebooks if codebooks is not None else _pq_codebooks(dim, m, k)
    cents = centroids if centroids is not None else _ivf_centroids(dim, n_cells)
    cb = with_pq_code(
        with_ivf_cell(
            spread(corpus), vec_col, dim, n_cells, centroids=centroids
        ),
        vec_col, dim, m, k, codebooks=books,
    )
    rows = _query_rows(
        queries, id_col, vec_col, _probe_cells(vec_col, cents, n_probe)
    )
    codes_df = cb.select(
        F.col(id_col).alias("__id"),
        F.col("ivf_cell").alias("__cell"),
        F.col("pq_code").alias("__code"),
        F.col(vec_col).alias("__v"),
    )
    cand = _adc_scan_build(
        codes_df, rows, books, m, k, shortlist,
        dict(queries.dtypes)[id_col], dict(corpus.dtypes)[id_col],
        carry_vtype=dict(corpus.dtypes)[vec_col],
    )
    short = _adc_shortlist(cand, shortlist, F.col("__v").alias("__cv"))
    fetched = short.join(
        F.broadcast(_query_frame(corpus.sparkSession, rows, queries, vec_col)),
        "__qrow",
    ).withColumn("__cn", l2_norm(F.col("__cv"), dim))
    return _exact_cosine_topk(fetched, kq, dim)


# --- IVF training: Lloyd refinement ------------------------------------------


def lloyd_refine(
    corpus: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    n_cells: int = 8,
    scale: float = 1_000_000.0,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """One spherical k-means (Lloyd) update of the IVF coarse
    quantizer: assign every vector to its max-dot-product centroid
    (``with_ivf_cell`` — the metric the IVF index itself probes with),
    then re-estimate each centroid as the mean of its members. This is
    the training step that turns ``_ivf_centroids``'s seeded init into
    data-adapted centroids; production runs it a handful of times on a
    sample, each iteration one pass of this plan.

    -> (cluster, pos, c_new, n): the refined centroid, element-wise
    (``pos`` indexes the dimension), plus the cluster population.
    Empty clusters emit no rows (standard Lloyd: reseed or drop).

    Determinism at scale: the mean is accumulated in FIXED POINT —
    components floor to ``scale``-scaled longs, the sum of longs is
    order-independent (float sums are not: different partition merge
    orders give different last bits, which would make the result
    unreproducible run-to-run and unverifiable cross-engine), and the
    final division is one exact-integer-over-count double op. With
    scale=1e6, the long sum stays inside double-exact range (2^53) up
    to ~9e9 assigned rows per cluster; shrink scale for bigger cells.
    The shuffle is (cluster, pos) keyed with map-side combine, so each
    upstream partition contributes at most n_cells x dim rows — the
    classic distributed-kmeans partial-sum shape.
    """
    assigned = with_ivf_cell(
        corpus, vec_col, dim, n_cells, out_col="cluster",
        centroids=centroids,
    )
    pe = assigned.select(
        "cluster", F.posexplode(F.col(vec_col)).alias("pos", "x")
    )
    q = F.floor(F.col("x").cast("double") * F.lit(scale)).cast("long")
    return (
        pe.select("cluster", "pos", q.alias("__q"))
        .groupBy("cluster", "pos")
        .agg(F.sum("__q").alias("__sq"), F.count(F.lit(1)).alias("n"))
        .select(
            "cluster",
            "pos",
            F.round(F.col("__sq") / F.col("n") / F.lit(scale), 6).alias(
                "c_new"
            ),
            "n",
        )
    )


# Trained quantizers are deterministic functions of (corpus, config), so
# one training run per process serves every query that probes the same
# index — the memo is what "the index is built once" means in a test
# process; production persists the centroids next to the index files.
# The key carries a metadata fingerprint of the memo_key path (file
# names, sizes, mtimes — no data scan) so regenerated/appended data
# under the same path invalidates the entry instead of silently
# serving centroids trained on the old corpus.
_LLOYD_MEMO: dict[tuple, list[list[float]]] = {}


def _memo_fingerprint(memo_key: str | None) -> tuple:
    """Cheap invalidation token for _LLOYD_MEMO: when the memo key is
    a real directory/file, fold in (relpath, size, mtime_ns) of every
    file under it — pure os.stat metadata, no read. Non-path keys
    fingerprint as themselves."""
    import os

    if memo_key is None or not os.path.exists(memo_key):
        return ()
    entries = []
    if os.path.isdir(memo_key):
        for root, _dirs, files in os.walk(memo_key):
            for f in sorted(files):
                p = os.path.join(root, f)
                st = os.stat(p)
                entries.append(
                    (os.path.relpath(p, memo_key), st.st_size, st.st_mtime_ns)
                )
    else:
        st = os.stat(memo_key)
        entries.append((os.path.basename(memo_key), st.st_size, st.st_mtime_ns))
    return tuple(sorted(entries))


def lloyd_train(
    corpus: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    n_cells: int | None = 16,
    rounds: int = 10,
    scale: float = 1_000_000.0,
    memo_key: str | None = None,
) -> list[list[float]]:
    """Iterate ``lloyd_refine`` for a FIXED number of rounds and return
    the trained coarse quantizer (round-9 answer to the round-8 audit:
    one Lloyd round left sim14-measured recall@5 at 0.34; ten rounds
    converge — assignment churn reaches 0 around round 10 on the test
    corpus and the centroids are a fixed point thereafter, which a
    fixed round count captures REPRODUCIBLY, unlike churn-triggered
    stopping whose round count would vary with data order).

    Each round is one Spark job whose output is n_cells x dim rows of
    INDEX METADATA collected to the driver and fed to the next
    assignment as plan literals — the canonical iterative-training
    shape (10 jobs total, centroid state never corpus-sized; compare
    operators/bpe.py where per-merge jobs ARE the scaling concern
    because a vocab wants 32k merges, vs 10 Lloyd rounds here). Empty
    clusters carry the previous round's centroid forward. Because
    every round is bit-reproducible (fixed-point long sums), the whole
    training run unrolls into oracle SQL — the DuckDB replay in
    ``__spark_entry__._sql_lloyd_train_ctes`` is this loop verbatim.

    ``memo_key`` (e.g. the sf_dir) caches the result per
    (key, vec_col, dim, n_cells, rounds): training is deterministic,
    so sim15/sim16/sim18 probing the same index share one run.

    ``n_cells=None`` auto-sizes to ``auto_n_cells(corpus.count())``
    — re-running after a corpus step-change (~2x growth) yields a
    LARGER quantizer, which is the intended re-train trigger (the
    round-11 sweep's finding that cells must scale with the corpus).
    """
    if n_cells is None:
        n_cells = auto_n_cells(corpus.count())
    key = (
        memo_key, _memo_fingerprint(memo_key), vec_col, dim, n_cells,
        rounds, scale,
    )
    if memo_key is not None and key in _LLOYD_MEMO:
        return [list(c) for c in _LLOYD_MEMO[key]]
    cents = [list(c) for c in _ivf_centroids(dim, n_cells)]
    for _ in range(rounds):
        for r in lloyd_refine(
            corpus, vec_col, dim=dim, n_cells=n_cells, scale=scale,
            centroids=cents,
        ).collect():
            cents[r["cluster"]][r["pos"]] = r["c_new"]
    if memo_key is not None:
        _LLOYD_MEMO[key] = [list(c) for c in cents]
    return cents


def pq_refine(
    corpus: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    k: int = 16,
    scale: float = 1_000_000.0,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """One Lloyd update of ALL m per-subspace PQ codebooks in a single
    pass: encode every vector against the current books (squared-L2
    argmin per subspace — the same assignment ``with_pq_code``
    serves), then re-estimate each (subspace, code) centroid as the
    fixed-point mean of its member subvectors.

    -> (j, c, subpos, c_new, n): the refined component, element-wise.
    Empty codes emit no rows (caller carries the previous book
    forward, like lloyd_refine).

    One shuffle keyed by (subspace, code, subpos) with map-side
    combine: each upstream partition contributes at most
    m x k x (dim/m) = k x dim rows — the distributed-kmeans
    partial-sum shape, independent of corpus size. The fixed-point
    discipline (floor to scale-scaled longs; order-independent long
    sums) is lloyd_refine's, so training replays in oracle SQL."""
    sub = dim // m
    coded = with_pq_code(
        corpus, vec_col, dim, m, k, out_col="__code", codebooks=codebooks
    )
    pe = coded.select(
        "__code", F.posexplode(F.col(vec_col)).alias("pos", "x")
    )
    j = (F.col("pos") / sub).cast("int")
    q = F.floor(F.col("x").cast("double") * F.lit(scale)).cast("long")
    return (
        pe.select(
            j.alias("j"),
            F.element_at(F.col("__code"), j + 1).alias("c"),
            (F.col("pos") % sub).alias("subpos"),
            q.alias("__q"),
        )
        .groupBy("j", "c", "subpos")
        .agg(F.sum("__q").alias("__sq"), F.count(F.lit(1)).alias("n"))
        .select(
            "j",
            "c",
            "subpos",
            F.round(F.col("__sq") / F.col("n") / F.lit(scale), 6).alias(
                "c_new"
            ),
            "n",
        )
    )


def pq_train(
    corpus: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    k: int = 16,
    rounds: int = 10,
    scale: float = 1_000_000.0,
    memo_key: str | None = None,
) -> list[list[list[float]]]:
    """Train the PQ codebooks to (near-)convergence — ``lloyd_train``'s
    twin for the product quantizer (closing the `_pq_codebooks`
    "production would k-means a sample" placeholder). Each round is
    ONE Spark job updating all m subspace books together; the state
    collected per round is m x k x (dim/m) numbers (1 Ki floats at the
    default config) — index metadata, never corpus-sized. Empty codes
    carry the previous round's centroid. Measured on the test corpus
    (sim20): trained books roughly double PQ recall at every shortlist
    budget (ADC recall@5 0.052 -> 0.152 at m=8). The SHIPPABLE config
    is m=16 (sub=4 — halving subspace width beats k=256 at m=8 per
    byte, measured): composed IVF+PQ recall@5 0.720 vs the 0.732
    probe-budget ceiling at n_probe=6, shortlist=80 (sim22).
    ``memo_key`` caches per (key, config) like lloyd_train."""
    key = (
        "pq", memo_key, _memo_fingerprint(memo_key), vec_col, dim, m, k,
        rounds, scale,
    )
    if memo_key is not None and key in _LLOYD_MEMO:
        return [[list(c) for c in b] for b in _LLOYD_MEMO[key]]
    books = [[list(c) for c in b] for b in _pq_codebooks(dim, m, k)]
    for _ in range(rounds):
        for r in pq_refine(
            corpus, vec_col, dim=dim, m=m, k=k, scale=scale,
            codebooks=books,
        ).collect():
            books[r["j"]][r["c"]][r["subpos"]] = r["c_new"]
    if memo_key is not None:
        _LLOYD_MEMO[key] = [[list(c) for c in b] for b in books]
    return books


def fsck_ivf_index(spark, index_path: str) -> list[dict]:
    """Invariant check (fsck) for a vector-lake index — the ops twin
    of ``fsck_text_index``: returns findings ({check, severity,
    detail}), empty when healthy. Read-only, metadata-sized work.

    Checks: committed epochs vs ledger entries both ways (orphan data
    dirs are benign in-flight epochs; a ledger entry whose committed
    dir vanished is serving loss), duplicate seqs (info), tombstone
    readability + epoch references (a tombstone naming a nonexistent
    epoch is a phantom — info), quantizer sidecar presence and cell
    consistency (every ivf_cell on disk must be addressable by the
    quantizer, or probes can never reach those rows)."""
    import glob
    import os

    findings: list[dict] = []

    def add(check, severity, detail):
        findings.append(
            {"check": check, "severity": severity, "detail": detail}
        )

    epoch_dirs = {
        os.path.basename(d).split("=", 1)[1]
        for d in glob.glob(os.path.join(index_path, "epoch=*"))
    }
    committed = set(_committed_epochs(index_path))
    for e in epoch_dirs - committed:
        add(
            "uncommitted_epoch", "info",
            f"epoch={e} has no _SUCCESS — in-flight or crashed write, "
            "invisible to ledger-gated reads; a replay overwrites it",
        )
    from geosparql_etl_spark.lakes import commit as lc

    for e in set(lc.read_ledger_entries(index_path)) - epoch_dirs:
        add(
            "ledger_dangling", "error",
            f"_ledger/{e}.json exists but epoch={e} has no data dir — "
            "if it ever committed, its vectors cannot serve",
        )
    findings.extend(
        lc.duplicate_seq_findings(_ann_epoch_seqs(index_path))
    )
    try:
        tomb = read_index_tombstones(spark, index_path)
        if tomb is not None:
            refs = {
                r["epoch"]
                for r in tomb.select("epoch").distinct().collect()
                if r["epoch"] is not None
            }
            for e in sorted(refs - epoch_dirs):
                add(
                    "phantom_tombstone", "info",
                    f"tombstones reference epoch {e} which no longer "
                    "exists (compacted or rebuilt) — harmless no-op",
                )
    except Exception as exc:
        add("tombstones", "error", f"unreadable tombstones: {exc}")
    q = read_index_quantizer(index_path)
    if q is None:
        add(
            "quantizer", "warn",
            "no _quantizer.json sidecar — probes must supply the "
            "build-time centroids themselves (pre-round-12 index)",
        )
    else:
        n_cells = int(q["n_cells"])
        cell_dirs = set()
        for pat in ("ivf_cell=*", "epoch=*/ivf_cell=*"):
            for d in glob.glob(os.path.join(index_path, pat)):
                cell_dirs.add(int(os.path.basename(d).split("=", 1)[1]))
        bad = sorted(c for c in cell_dirs if c >= n_cells)
        if bad:
            add(
                "cell_out_of_range", "error",
                f"cells {bad} exist on disk but the quantizer has only "
                f"{n_cells} cells — those rows are unreachable by any "
                "probe (quantizer/layout mismatch; rebuild)",
            )
    return findings
