"""Triple-shaped storage: the (s, p, o) DataFrame and its scale layout.

A triple store in Spark is just a 3-column string DataFrame, but the
LAYOUT decides whether a BGP join is a full-table shuffle or a pruned
co-partitioned probe:

* **Vertical partitioning** (S2RDF): real deployments write the triples
  parquet partitioned by ``p`` (``.write.partitionBy("p")``). Every
  triple pattern with a constant predicate — the overwhelming majority
  in real SPARQL — then prunes to one directory at scan time; the
  predicate never travels through the join. ``TripleStore.vertically_
  partitioned()`` models the same split in-memory for tests.
* **Subject-star locality**: all patterns sharing a subject variable
  join on ``s``. The compiler joins star members consecutively so the
  exchange on ``s`` introduced by the first join is REUSED by the rest
  (one shuffle per star, not per pattern); with the triples table
  bucketed by ``s`` the star resolves shuffle-free.

Object lexical forms are canonical strings (numerics printf'd at fixed
scale) so equality and FILTER casts behave identically in Spark and any
ANSI replay engine.

Reference tie-in: subjects/predicates mirror the URN vocabulary the
reference mints (``mongo-etl/utils/rdf_utils.py:60-101`` urn:halcyon
subjects, ``mongodb_to_rdf.py:318-341`` property list); generation here
is a single exploded projection per source table, not a per-document
Python loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from geosparql_etl_spark.functions.geometry import WKT_SHAPES, is_wkt_shape

EX = "urn:ex:"
RDF_TYPE = "rdf:type"
RDF_TYPE_IRI = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
# The compiler's 'a' keyword and the in-engine vocabulary use the
# compact "rdf:type"; the Turtle source (sources/turtle.py) expands 'a'
# to the full rdf-syntax-ns#type IRI per spec. Scans treat the two as
# THE SAME predicate so '?s a <Class>' works identically over a
# generated store and a turtle-loaded one — without rewriting the
# stored lexical form (a loaded graph round-trips byte-identically).
_TYPE_FORMS = [RDF_TYPE, RDF_TYPE_IRI]
GEO_ASWKT = "geo:asWKT"
XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_LANGSTRING = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
GEO_WKT_LITERAL = "geo:wktLiteral"
# Optional literal-metadata columns a store may carry alongside (s,p,o):
# language tag and datatype IRI of the object term. Absent columns mean
# "no store-level metadata" (plain literals / IRIs); every consumer
# treats a missing column as NULL. Only compiled-for scans ever project
# them, so stores without metadata pay nothing.
META_COLS = ("lang", "dt")


def _urn(kind: str, key: Column) -> Column:
    return F.concat(F.lit(f"urn:{kind}:"), key.cast("string"))


def _pair_meta(pair) -> tuple[str, Column, Column, Column]:
    """Normalize a spec pair: (pred, obj) or (pred, obj, {lang:, dt:})
    -> (pred, obj, lang_col, dt_col) with NULL columns for absent
    metadata (RDF: plain literal or IRI object)."""
    null = F.lit(None).cast("string")
    if len(pair) == 2:
        p, o = pair
        return p, o, null, null
    p, o, meta = pair
    return (
        p,
        o,
        meta.get("lang", null) if meta.get("lang") is not None else null,
        meta.get("dt", null) if meta.get("dt") is not None else null,
    )


def _triples_of(df: DataFrame, subject: Column, pairs: list) -> DataFrame:
    """One scan -> N triples per row via explode of a literal array.

    The per-table triple fan-out is a single projection + generator
    (no join, no union-of-N-scans): at 100 TB each source table is
    read ONCE and emits its triples in the same pass. NULL objects are
    dropped after the explode — that is how sparse predicates (a
    property only some rows carry) are expressed. Each entry carries
    the object's literal metadata (lang tag / datatype IRI, usually
    NULL) so the flat graph is a full RDF 1.1 term table.
    """
    entries = F.array(
        *[
            F.struct(
                F.lit(p).alias("p"),
                o.cast("string").alias("o"),
                lang.alias("lang"),
                dt.alias("dt"),
            )
            for p, o, lang, dt in (_pair_meta(pair) for pair in pairs)
        ]
    )
    return (
        df.select(subject.alias("s"), F.explode(entries).alias("e"))
        .select(
            "s",
            F.col("e.p").alias("p"),
            F.col("e.o").alias("o"),
            F.col("e.lang").alias("lang"),
            F.col("e.dt").alias("dt"),
        )
        .where(F.col("o").isNotNull())
    )


# Deterministic language tags for nation ex:label (by regionkey): the
# five TPC-H regions map onto five tags, so LANG() aggregates are
# oracle-replayable from n_regionkey alone.
_LABEL_TAGS = ("en", "fr", "de", "es", "pt")


def _tpch_spec() -> dict[str, tuple[Column, list]]:
    """table -> (subject, [(predicate, object)]) — ONE vocabulary spec
    shared by the flat renderer and the vertical store so the two
    layouts can never drift.

    Vocabulary (all objects canonical strings):
      urn:region:K   rdf:type ex:Region ; ex:name ;
                     ex:zone "POLYGON((...))"^^geo:wktLiteral — the
                     vertical band x in [20K, 20K+20) of the supplier
                     lattice, half-unit margins so no lattice point
                     sits on an edge
      urn:nation:K   rdf:type ex:Nation ; ex:name ; ex:region ;
                     ex:label "<n_name>"@<tag> — the name again as a
                     LANGUAGE-TAGGED literal, tag en/fr/de/es/pt by
                     regionkey (deterministic), for LANG()/LANGMATCHES
      urn:cust:K     rdf:type ex:Customer ; ex:name ; ex:segment ;
                     ex:nation ; ex:acctbal (%.2f, ^^xsd:decimal) ;
                     ex:vip "true" (SPARSE: only acctbal > 9000)
      urn:supp:K     rdf:type ex:Supplier ; ex:name ; ex:nation ;
                     geo:asWKT "POINT(x y)"^^geo:wktLiteral with
                     x=(37K)%100,
                     y=(61K)%100 (deterministic integer grid) ;
                     ex:parent urn:supp:(K DIV 2) for K > 1 (binary
                     tree — gives property paths a real hierarchy to
                     close over, depth log2(N))
      urn:order:K    rdf:type ex:Order ; ex:customer ; ex:total
                     (%.2f, ^^xsd:decimal) ; ex:priority ;
                     ex:date "yyyy-MM-ddTHH:mm:ss"^^xsd:dateTime
    """
    return {
        "region": (
            _urn("region", F.col("r_regionkey")),
            [
                (RDF_TYPE, F.lit(EX + "Region")),
                (EX + "name", F.col("r_name")),
                # ex:zone: region K owns the vertical band x in
                # [20K, 20K+20) of the supplier lattice, as a typed
                # POLYGON literal. Half-unit margins (x0-0.5, x1+19.5,
                # y -0.5..99.5) keep every integer lattice point
                # strictly off the edges, so even-odd ray casting is
                # never parity-undefined on this graph.
                (
                    EX + "zone",
                    F.format_string(
                        "POLYGON((%.1f %.1f, %.1f %.1f, %.1f %.1f, "
                        "%.1f %.1f, %.1f %.1f))",
                        F.col("r_regionkey") * 20 - 0.5, F.lit(-0.5),
                        F.col("r_regionkey") * 20 + 19.5, F.lit(-0.5),
                        F.col("r_regionkey") * 20 + 19.5, F.lit(99.5),
                        F.col("r_regionkey") * 20 - 0.5, F.lit(99.5),
                        F.col("r_regionkey") * 20 - 0.5, F.lit(-0.5),
                    ),
                    {"dt": F.lit(GEO_WKT_LITERAL)},
                ),
            ],
        ),
        "nation": (
            _urn("nation", F.col("n_nationkey")),
            [
                (RDF_TYPE, F.lit(EX + "Nation")),
                (EX + "name", F.col("n_name")),
                (EX + "region", _urn("region", F.col("n_regionkey"))),
                (
                    EX + "label",
                    F.col("n_name"),
                    {
                        "lang": F.element_at(
                            F.array(*[F.lit(t) for t in _LABEL_TAGS]),
                            (F.col("n_regionkey") % 5 + 1).cast("int"),
                        )
                    },
                ),
            ],
        ),
        "customer": (
            _urn("cust", F.col("c_custkey")),
            [
                (RDF_TYPE, F.lit(EX + "Customer")),
                (EX + "name", F.col("c_name")),
                (EX + "segment", F.col("c_mktsegment")),
                (EX + "nation", _urn("nation", F.col("c_nationkey"))),
                (
                    EX + "acctbal",
                    F.format_string("%.2f", F.col("c_acctbal")),
                    {"dt": F.lit(XSD + "decimal")},
                ),
                (EX + "vip", F.when(F.col("c_acctbal") > 9000, F.lit("true"))),
            ],
        ),
        "supplier": (
            _urn("supp", F.col("s_suppkey")),
            [
                (RDF_TYPE, F.lit(EX + "Supplier")),
                (EX + "name", F.col("s_name")),
                (EX + "nation", _urn("nation", F.col("s_nationkey"))),
                (
                    GEO_ASWKT,
                    F.format_string(
                        "POINT(%d %d)",
                        (F.col("s_suppkey") * 37) % 100,
                        (F.col("s_suppkey") * 61) % 100,
                    ),
                    {"dt": F.lit(GEO_WKT_LITERAL)},
                ),
                (
                    EX + "parent",
                    F.when(
                        F.col("s_suppkey") > 1,
                        _urn("supp", F.expr("s_suppkey DIV 2")),
                    ),
                ),
            ],
        ),
        "orders": (
            _urn("order", F.col("o_orderkey")),
            [
                (RDF_TYPE, F.lit(EX + "Order")),
                (EX + "customer", _urn("cust", F.col("o_custkey"))),
                (
                    EX + "total",
                    F.format_string("%.2f", F.col("o_totalprice")),
                    {"dt": F.lit(XSD + "decimal")},
                ),
                (EX + "priority", F.col("o_orderpriority")),
                (
                    EX + "date",
                    F.date_format(F.col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss"),
                    {"dt": F.lit(XSD + "dateTime")},
                ),
            ],
        ),
    }


def tpch_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Render the warehouse dims + orders as one flat (s, p, o) graph
    (see ``_tpch_spec`` for the vocabulary) — one exploded projection
    per source table, unioned."""
    out: DataFrame | None = None
    for table, (subject, pairs) in _tpch_spec().items():
        df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
        t = _triples_of(df, subject, pairs)
        out = t if out is None else out.unionByName(t)
    assert out is not None
    return out


# Process-wide store memo: a TripleStore is pure DataFrame LINEAGE
# (projections of the source parquet — no data, no results), so
# rebuilding it per query only re-pays thousands of py4j round trips
# constructing identical Column trees (measured 1-6 s per query at
# round-14 profiling, the single largest fixed cost of every sp
# query). The memo returns the same lineage for the same (session,
# sf_dir); every query still scans the parquet at execution time.
# Keyed on the session object so a restarted SparkSession can never
# serve another JVM's stale DataFrame handles.
_TPCH_STORE_MEMO: dict[str, tuple] = {}


def tpch_store(spark: SparkSession, sf_dir: str) -> TripleStore:
    """The same graph in TRUE vertical layout: one 2-column frame per
    predicate, built straight from the source table(s) that carry it.

    This is what a persisted ``partitionBy("p")`` triple lake looks
    like to the planner: a bound-predicate pattern scans only its
    slice, the slice is a 2-column projection of one (occasionally
    two) parquet tables, and column pruning reaches the scan — no
    union of unrelated tables ever enters the plan. The predicate
    vocabulary is static, so no driver-side distinct-collect is
    needed (contrast ``TripleStore.vertically_partitioned``, which
    discovers it from data)."""
    hit = _TPCH_STORE_MEMO.get(sf_dir)
    if hit is not None and hit[0] is spark:
        return hit[1]
    vertical: dict[str, list[DataFrame]] = {}
    flat: DataFrame | None = None
    for table, (subject, pairs) in _tpch_spec().items():
        df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
        t = _triples_of(df, subject, pairs)
        flat = t if flat is None else flat.unionByName(t)
        for pair in pairs:
            pred, obj, lang, dt = _pair_meta(pair)
            cols = [subject.alias("s"), obj.cast("string").alias("o")]
            if len(pair) == 3:
                # metadata-bearing predicates keep their lang/dt in the
                # slice (a parquet lake whose files carry the extra
                # columns — pruned for free when a scan doesn't ask).
                # Each such predicate comes from exactly one table, so
                # per-predicate slice schemas never diverge on union.
                cols += [lang.alias("lang"), dt.alias("dt")]
            slice_df = df.select(*cols).where(obj.isNotNull())
            vertical.setdefault(pred, []).append(slice_df)
    merged = {
        pred: slices[0] if len(slices) == 1 else _union_all(slices)
        for pred, slices in vertical.items()
    }
    assert flat is not None
    out = TripleStore(flat, merged)
    # the test parquet under sf_dir is immutable: predicate shape
    # statistics memoize process-wide across the per-query store
    # instances bench/driver runs construct
    out.stats_key = "tpch:" + sf_dir
    _TPCH_STORE_MEMO[sf_dir] = (spark, out)
    return out


def _apply_meta_consts(
    df: DataFrame, o_lang: str | None, o_dt: str | None
) -> DataFrame:
    """Filter a scan to one tagged/typed object literal. A store whose
    relation has no metadata column cannot hold that term -> empty."""
    for col, want in (("lang", o_lang), ("dt", o_dt)):
        if want is None:
            continue
        if col in df.columns:
            df = df.where(F.col(col) == want)
        else:
            df = df.where(F.lit(False))
    return df


def _meta_cols(df: DataFrame, o_meta: dict[str, str] | None) -> list[Column]:
    """Projection list for requested object metadata; NULL columns
    stand in where the store carries none."""
    if not o_meta:
        return []
    null = F.lit(None).cast("string")
    return [
        (F.col(kind) if kind in df.columns else null).alias(out)
        for kind, out in sorted(o_meta.items())
    ]


def _union_all(dfs: list[DataFrame]) -> DataFrame:
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out


def to_ntriples_rows(triples: DataFrame) -> DataFrame:
    """(s, p, o) -> the ntriples writer schema. Objects that look like
    IRIs (urn:/http:/https: scheme) serialize as IRIs, everything else
    as plain literals — the same convention the vocabulary generators
    use, so a written graph reads back bit-identically."""
    is_iri = (
        F.col("o").startswith("urn:")
        | F.col("o").startswith("http://")
        | F.col("o").startswith("https://")
    )
    null = F.lit(None).cast("string")
    # metadata-bearing graphs (tpch_triples, turtle loads) round-trip
    # their lang tags / datatype IRIs; bare (s,p,o) frames write plain
    dt = F.col("dt") if "dt" in triples.columns else null
    lang = F.col("lang") if "lang" in triples.columns else null
    return triples.select(
        F.col("s").alias("subject"),
        F.col("p").alias("predicate"),
        F.col("o").alias("object"),
        (~is_iri).alias("is_literal"),
        dt.alias("datatype"),
        lang.alias("lang"),
    )


# process-wide predicate->object-shape statistics for stores whose
# backing data is immutable (stats_key set): the table-statistics
# analog for the grid rewrite's shape-arm pruning — one column-pruned
# aggregate per (key, predicate) per process, every later query free
_PRED_SHAPE_STATS: dict[tuple, str | None] = {}


class TripleStore:
    """Scan interface the compiler queries against.

    ``scan(s, p, o)`` takes each position as either ``None`` (variable)
    or a constant string, and returns the matching triples with ONLY
    the variable positions as columns (named per caller's aliases).

    With ``vertical`` set (predicate -> DataFrame), a constant-predicate
    pattern reads just that slice — the in-memory model of a
    ``partitionBy("p")`` parquet layout where the same lookup is
    directory pruning, zero I/O for the other predicates.
    """

    #: set to a stable identifier (e.g. the source dir) when the
    #: backing data is immutable — predicate shape statistics then
    #: memoize process-wide instead of per store instance
    stats_key: str | None = None

    #: False when the backing data is LIVE (files land between
    #: queries). The one marker both per-store memos consult: predicate
    #: shape statistics (``predicate_object_shape``) and compiled
    #: SPARQL plans (``compiler.sparql_select``) — either could go
    #: stale against live data
    memoizable: bool = True

    def __init__(self, triples: DataFrame, vertical: dict[str, DataFrame] | None = None):
        self.triples = triples
        self.vertical = vertical

    def predicate_object_shape(self, pred: str) -> str | None:
        """WKT shape domain of ``pred``'s objects: the one shape of
        ``WKT_SHAPES`` every object lexical has (by ``is_wkt_shape``,
        the test the geof functions choose their arm by), None for
        mixed / non-WKT / empty. This is TABLE STATISTICS for the grid
        cover join: a store-derived variable whose predicate is
        provably single-shape prunes the impossible shape arms the same
        way a BIND-constant does (compiler.py:_static_wkt_shape). One
        column-pruned aggregate pass per (store, predicate), consulted
        LAZILY (only when a grid rewrite actually fires) and memoized —
        process-wide when ``stats_key`` marks the backing data
        immutable, per-instance otherwise."""
        if not self.memoizable:
            # mutable backing data (live lake stores): a memoized
            # shape could go stale after appends and silently prune a
            # now-reachable arm — unknown domain keeps every arm,
            # which is always sound
            return None
        if self.stats_key is not None:
            memo, key = _PRED_SHAPE_STATS, (self.stats_key, pred)
        else:
            memo = self.__dict__.setdefault("_shape_stats", {})
            key = pred
        if key in memo:
            return memo[key]
        df = self.scan(None, pred, None, {"o": "o"})
        row = df.select(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(is_wkt_shape(F.col("o"), s).cast("long")).alias(s)
                for s in WKT_SHAPES
            ],
        ).first()
        shape = next(
            (s for s in WKT_SHAPES if row["n"] and row[s] == row["n"]), None
        )
        memo[key] = shape
        return shape

    def _relation(self) -> DataFrame:
        """The frame ONE pattern scan filters. File-backed subclasses
        (NTriplesLakeStore) return a FRESH relation per call — see its
        docstring for the Spark 4.1 shared-relation pushdown hazard."""
        return self.triples

    def _relation_for_graph(self, gconst: str | None) -> DataFrame:
        """Relation for a scan inside GRAPH <const>: lake subclasses
        prune to the one graph directory via a read OPTION; here it is
        just the base relation (the scope's Catalyst g-filter does the
        semantic work either way)."""
        return self._relation()

    def full(self, meta: bool = False) -> DataFrame:
        """The whole graph as a frame safe to combine with pattern
        scans in one plan (DESCRIBE, updates, path node domains).

        By default projects the CORE columns only — (s, p, o) plus
        ``g`` on quad stores — so DESCRIBE dumps and path domains have
        a stable schema whether or not the store carries metadata
        columns. ``meta=True`` additionally carries the lang/dt
        sidecar columns when the relation has them: update entry
        points MUST use this form, because an update's return value is
        the post-update graph and a core-only projection would
        silently strip every language tag and datatype IRI graph-wide
        (round-8 ADVICE finding — writing such a result via
        to_ntriples_rows degrades every tagged/typed literal on disk).
        Update joins still key on the core columns only: NULL metadata
        never joins (NULL != NULL), and the engine's term identity is
        lexical."""
        rel = self._relation()
        core = ["s", "p", "o"] + (["g"] if "g" in rel.columns else [])
        if meta:
            core += [c for c in META_COLS if c in rel.columns]
        return rel.select(*core)

    @classmethod
    def from_ntriples(cls, df: DataFrame, with_graphs: bool = False) -> "TripleStore":
        """Adapt a ``spark.read.format("ntriples")`` frame (schema
        subject/predicate/object/is_literal/datatype/lang/path —
        sources/ntriples.py) to the compiler's (s, p, o) shape, with
        the literal metadata kept as optional ``lang``/``dt`` columns:
        FILTER casts still operate on the lexical form ``object``
        holds, while LANG()/DATATYPE()/LANGMATCHES() read the
        metadata when a query asks.

        ``with_graphs=True`` keeps the named-graph identity as column
        ``g``: the source's own ``g`` column when present (a quad lake
        read with ``option("graphPartitions","true")`` — the graph IRI
        decoded from the ``g=<enc>`` directory), else the source file
        path (one .nt file == one graph, the natural quad reading of a
        flat triple lake). Either way the result is queryable with
        GRAPH patterns — and for the quad lake, a constant-graph scope
        filter pushes down to the source as directory pruning.

        CAUTION (Spark 4.1): if ``df`` is a live ``format("ntriples")``
        scan, use ``NTriplesLakeStore`` instead — a BGP self-joins the
        ONE shared relation and Spark plans a Python data source
        relation once per DataFrame instance, collapsing the branches'
        claimed pushdown filters onto a single scan (wrong bindings,
        silently). This classmethod is safe for materialized frames
        (createDataFrame, checkpointed/parquet-backed, turtle
        mapInPandas output)."""
        cols = [
            F.col("subject").alias("s"),
            F.col("predicate").alias("p"),
            F.col("object").alias("o"),
        ]
        if "lang" in df.columns:
            cols.append(F.col("lang"))
        if "datatype" in df.columns:
            cols.append(F.col("datatype").alias("dt"))
        if with_graphs:
            src = "g" if "g" in df.columns else "path"
            cols.append(F.col(src).alias("g"))
        return cls(df.select(*cols))

    @classmethod
    def vertically_partitioned(cls, triples: DataFrame) -> "TripleStore":
        """Split by predicate up front (models partitionBy('p') layout).

        Predicates are a tiny, bounded vocabulary (dozens), so the
        driver-side distinct-collect is safe at any data scale — it is
        the partition LISTING, not the data.
        """
        preds = [r[0] for r in triples.select("p").distinct().collect()]
        keep = ["s", "o"] + [c for c in META_COLS if c in triples.columns]
        vertical = {
            p: triples.where(F.col("p") == p).select(*keep) for p in preds
        }
        return cls(triples, vertical)

    def scan(
        self,
        s: str | None,
        p: str | None,
        o: str | None,
        aliases: dict[str, str],
        o_meta: dict[str, str] | None = None,
        o_lang: str | None = None,
        o_dt: str | None = None,
    ) -> DataFrame:
        """aliases: position name ('s'/'p'/'o') -> output column name.

        ``o_meta`` ({'lang'|'dt': output column name}) additionally
        projects the OBJECT term's literal metadata — NULL when the
        store carries none, so LANG()/DATATYPE() queries run against
        metadata-free stores and simply see plain literals. ``o_lang``
        / ``o_dt`` constrain a constant object to one specific
        language-tagged / typed literal (``"x"@en`` / ``"1"^^xsd:int``
        in a pattern): on a store with no metadata columns nothing can
        match, which is the spec answer ("x" and "x"@en are different
        RDF terms)."""
        p_forms = _TYPE_FORMS if p in _TYPE_FORMS else None
        if p is not None and self.vertical is not None:
            if p_forms is not None:
                slices = [self.vertical[f] for f in p_forms if f in self.vertical]
            else:
                slices = [self.vertical[p]] if p in self.vertical else []
            if not slices:  # predicate absent from the graph: empty slice
                df = self.triples.select("s", "o").where(F.lit(False))
            else:
                df = _union_all(slices)
        else:
            df = self._relation()
            if p is not None:
                df = df.where(
                    F.col("p").isin(p_forms) if p_forms else F.col("p") == p
                )
        if s is not None:
            df = df.where(F.col("s") == s)
        if o is not None:
            df = df.where(F.col("o") == o)
        df = _apply_meta_consts(df, o_lang, o_dt)
        cols = [F.col(pos).alias(name) for pos, name in aliases.items()]
        cols += _meta_cols(df, o_meta)
        if not cols:  # pure existence pattern: keep one marker column
            return df.select(F.lit(1).alias("__exists__")).limit(1)
        return df.select(*cols)


class NTriplesLakeStore(TripleStore):
    """TripleStore over a live ``format("ntriples")`` lake that opens a
    FRESH relation for every pattern scan.

    Why this exists: Spark 4.1 plans a Python data source relation
    ONCE per DataFrame instance. Every BGP is a self-join, so two
    patterns scanning one shared loaded frame get their per-branch
    claimed pushdown filters collapsed onto that single planning — one
    branch silently reads with the OTHER branch's subject/predicate/
    object equality (verified empirically; parquet relations do not
    share this behavior). A fresh ``load()`` per scan restores the
    invariant the compiler assumes: each pattern's claims and path/
    graph-directory pruning are its own.

    Cost: one extra plan-worker invocation per pattern (milliseconds);
    file listing repeats per scan. Both are planning-time, not
    data-path, and are the price of keeping pushdown claims sound.

    ``quad_lake=True`` reads a ``partitionBy("g")`` layout
    (``option("graphPartitions","true")``): the store carries ``g``
    and a constant GRAPH scope prunes whole graph directories."""

    # the lake is LIVE (appends land between queries): memoized shape
    # statistics could go stale and silently prune a reachable arm, and
    # a cached compiled plan would reuse the relations compile opened
    # instead of the fresh load per query this class exists for
    memoizable = False

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        with_graphs: bool = False,
        quad_lake: bool = False,
    ):
        self._spark = spark
        self._path = path
        self._quad = quad_lake
        self._wg = with_graphs or quad_lake
        super().__init__(self._load())

    def _load(self, graph: str | None = None) -> DataFrame:
        reader = self._spark.read.format("ntriples")
        if self._quad:
            reader = reader.option("graphPartitions", "true")
            if graph is not None:
                # constant GRAPH scope: prune to the one g=<enc>
                # directory at listing time — the option is part of
                # the relation identity, so the pruning can never
                # bleed into another branch of the plan
                reader = reader.option("graph", graph)
        df = reader.load(self._path)
        cols = [
            F.col("subject").alias("s"),
            F.col("predicate").alias("p"),
            F.col("object").alias("o"),
            F.col("lang"),
            F.col("datatype").alias("dt"),
        ]
        if self._wg:
            cols.append(F.col("g" if self._quad else "path").alias("g"))
        return df.select(*cols)

    def _relation(self) -> DataFrame:
        return self._load()

    def _relation_for_graph(self, gconst: str | None) -> DataFrame:
        return self._load(graph=gconst)


class GraphScopedStore:
    """TripleStore view inside a ``GRAPH <iri>`` / ``GRAPH ?g`` scope.

    Requires a quad-bearing base store (a ``g`` column — e.g.
    ``from_ntriples(..., with_graphs=True)``). A constant graph term
    filters every scan (plain patterns AND property-path hops, which
    all route through this ``scan``); a variable graph term emits
    ``g`` as that variable on every PLAIN pattern in the scope, so the
    shared-variable join machinery keeps the scope single-graph —
    SPARQL's GRAPH semantics. Property paths inside a VARIABLE graph
    scope thread the graph column through every hop (each seq/closure
    join also equi-joins on ``g`` — compiler._path_df), so a path
    never closes across graphs and the binding survives to the output.

    Scale note: graph scopes bypass the per-predicate vertical dict
    (built without g); a production quad lake partitions by (g, p)
    and gets pruning on both — this in-memory view keeps the simple
    flat filter."""

    def __init__(self, base: TripleStore, gconst: str | None, gvar: str | None):
        if "g" not in base.triples.columns:
            raise ValueError(
                "GRAPH pattern needs a quad store (no 'g' column; load "
                "with TripleStore.from_ntriples(df, with_graphs=True))"
            )
        self._base = base
        self.triples = base.triples
        self.vertical = None
        self._gconst = gconst
        self._gvar = gvar

    def full(self, meta: bool = False) -> DataFrame:
        return self._base.full(meta=meta)

    def scan(self, s, p, o, aliases, o_meta=None, o_lang=None, o_dt=None) -> DataFrame:
        df = self._base._relation_for_graph(self._gconst)
        for pos, const in (("s", s), ("p", p), ("o", o)):
            if const is None:
                continue
            if pos == "p" and const in _TYPE_FORMS:
                df = df.where(F.col(pos).isin(_TYPE_FORMS))
            else:
                df = df.where(F.col(pos) == const)
        if self._gconst is not None:
            df = df.where(F.col("g") == self._gconst)
        df = _apply_meta_consts(df, o_lang, o_dt)
        al = dict(aliases)
        if self._gvar is not None:
            if self._gvar in al.values():
                # GRAPH ?g { ?s ?g ?o }: the same output alias from two
                # positions would shadow, silently losing the required
                # position==graph equality — reject instead
                raise ValueError(
                    f"graph variable ?{self._gvar} also used in a triple "
                    "pattern position (unsupported)"
                )
            al["g"] = self._gvar
        cols = [F.col(pos).alias(name) for pos, name in al.items()]
        cols += _meta_cols(df, o_meta)
        if not cols:
            return df.select(F.lit(1).alias("__exists__")).limit(1)
        return df.select(*cols)
