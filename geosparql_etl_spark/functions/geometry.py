"""Native-Spark geometry expressions (G1-G13 in SURVEY.md §2.7).

The reference uses shapely + hand-rolled string building; neither Sedona
nor shapely is available here, so every geometry operation is a Column
expression over the canonical GeoJSON representation:

    coordinates: array<array<array<double>>>   (rings -> points -> [x, y])

All functions run JVM-side with no Python boundary. Most are built
from higher-order functions (transform / aggregate / filter / exists),
which Spark evaluates interpreted: a projection that holds one runs
outside whole-stage codegen (its ``explain()`` shows ``Project``
without ``*``). The WKT renderers the ETL pipelines call (polygon_wkt,
parse_polygon_string_wkt, denormalized_polygon_wkt, image_bbox_wkt,
and the multi-ring polygon_wkt_rings / multipolygon_wkt) are defined
once as SQL text (``functions.sql.sql_function``): ``f.sql("col")``
inlines that text into a pipeline's SQL statement, and ``f(col)`` is
the same text bound to Column arguments. Reference parity notes cite
file:line into the reference's src/geosparql-etl/.

Float-to-string caveat: Spark renders doubles with Java shortest-repr
(e.g. 1.0E-4) while CPython renders 0.0001; for coordinates in the
reference's actual magnitude range (pixels, 0..40000, and %.2f-formatted
denormalized values) the renderings agree.
"""

from __future__ import annotations

from collections import OrderedDict

from pyspark.sql import Column
from pyspark.sql import functions as F

from geosparql_etl_spark.functions.sql import sql_function, sql_literal

# Process-wide memo of PURE, CONTEXT-FREE Column trees (round 14).
# The composite geometry predicates below expand to tens of thousands
# of Column-API calls, each a py4j round trip — measured 5-13 s of
# driver-side Python per relate-family query build. The trees are
# immutable and reference only unresolved attributes / literals, so a
# tree built once is valid in ANY DataFrame that carries columns of
# those names; memoizing construction changes nothing about what a
# query computes (no data, no results, not even a session is cached —
# analysis resolves a fresh copy per plan). Callers must only memo
# trees whose free column names are fixed for the key. Keys can carry
# query constants (the SPARQL compiler memoizes calls by their AST),
# so the memo is a fixed-size LRU: traffic without repeats keeps at
# most _TREE_MEMO_SIZE trees alive in the process. 192 holds, without
# an eviction, what the query registry (about 80 trees over all
# queries) and tests/test_sparql.py (about 100) build together.
_TREE_MEMO_SIZE = 192
_TREE_MEMO: OrderedDict[tuple, Column] = OrderedDict()


def memo_tree(key: tuple, build) -> Column:
    """Return the memoized Column tree for ``key``, building it with
    ``build()`` on first use. ``key`` must uniquely determine the
    tree's structure INCLUDING the names of the free columns it
    references."""
    hit = _TREE_MEMO.pop(key, None)
    if hit is None:
        hit = build()
    _TREE_MEMO[key] = hit
    if len(_TREE_MEMO) > _TREE_MEMO_SIZE:
        _TREE_MEMO.popitem(last=False)
    return hit


def outer_ring(coordinates: Column) -> Column:
    """First (outer) ring of a GeoJSON polygon (null when absent — ANSI-safe).
    Ref: json-etl:34.

    Uses get() (0-based, null-on-out-of-bounds) rather than
    try_element_at(): TryElementAt's codegen writes its isNull flag as a
    caller-scope local, which breaks compilation ("isNull is not an
    rvalue") whenever Janino splits the surrounding expression into
    helper methods — dropping the whole projection to interpreter mode.
    """
    return F.get(coordinates, 0)


def _fmt_point_raw(pt: str) -> str:
    """SQL text: one [x, y] point as 'x y' with raw double rendering.

    Parity with the reference's f"{x} {y}" (json-etl:39).
    """
    return (
        f"concat_ws(' ', CAST(element_at({pt}, 1) AS STRING), "
        f"CAST(element_at({pt}, 2) AS STRING))"
    )


def _closed_ring_body(pts: str, prefix: str = "", suffix: str = "") -> str:
    """SQL text: the comma-joined body of one auto-closed ring ('x y,
    ..., x1 y1') wrapped in ``prefix``/``suffix``, NULL for an empty
    point list — the per-ring core `_closed_ring_wkt` (single ring, full
    'POLYGON ((...))' wrap) and `polygon_wkt_rings` / `multipolygon_wkt`
    ('(...)' per ring) build on. The wrap happens INSIDE the fold's
    finish lambda so the whole render stays ONE fold per ring — a
    separate IS NOT NULL-guarded concat would reference (and
    re-evaluate) the aggregate twice per row; see _closed_ring_wkt for
    why that matters."""
    step = (
        "named_struct("
        "'s', CASE WHEN __acc.s = '' THEN __p ELSE concat(__acc.s, ', ', __p) END, "
        "'first', CASE WHEN __acc.`first` = '' THEN __p ELSE __acc.`first` END, "
        "'last', __p)"
    )
    finish = (
        f"CASE WHEN __acc.`first` != '' THEN concat({sql_literal(prefix)}, __acc.s, "
        "CASE WHEN __acc.`first` != __acc.`last` THEN concat(', ', __acc.`first`) "
        f"ELSE '' END, {sql_literal(suffix)}) END"
    )
    return (
        f"aggregate({pts}, named_struct('s', '', 'first', '', 'last', ''), "
        f"(__acc, __p) -> {step}, __acc -> {finish})"
    )


def _closed_ring_wkt(pts: str) -> str:
    """SQL text: 'POLYGON ((...))' with auto-close, built in ONE fold
    over the formatted point strings.

    Performance note: higher-order-function lambdas are interpreted (not
    whole-stage-codegen'd), and every *reference* to an expression
    re-evaluates it — a close check written as CASE WHEN size(pts) > 0
    AND first != last THEN concat(pts, ...) evaluates the whole
    transform 4x per row. The single aggregate fold evaluates each point
    exactly once (measured ~5x on the sf0.1 bench for G3).

    The zero struct uses ''-sentinels, NOT null literals: '' is
    unambiguous (every formatted point contains a space) and keeps the
    fold's state type free of NULL literals.
    """
    return _closed_ring_body(pts, "POLYGON ((", "))")


def _no_outer_ring(coordinates: str) -> str:
    """SQL text: the coordinates or their outer ring are NULL or empty."""
    return (
        f"{coordinates} IS NULL OR size({coordinates}) = 0 "
        f"OR get({coordinates}, 0) IS NULL OR size(get({coordinates}, 0)) = 0"
    )


def _ring_body(ring: str) -> str:
    """SQL text: one ring's '(x y, ...)' with auto-close and raw double
    rendering (NULL for an empty ring)."""
    return _closed_ring_body(f"transform({ring}, __pt -> {_fmt_point_raw('__pt')})", "(", ")")


@sql_function
def polygon_wkt(coordinates: str) -> str:
    """G1: GeoJSON polygon coordinates -> WKT, outer ring only, NO ring
    closing, raw float rendering. Null when coords/ring empty.

    Ref: json-etl/geojson_to_geosparql_etl.py:27-42.
    """
    body = f"array_join(transform(get({coordinates}, 0), __pt -> {_fmt_point_raw('__pt')}), ', ')"
    return (
        f"CASE WHEN NOT ({_no_outer_ring(coordinates)}) "
        f"THEN concat('POLYGON ((', {body}, '))') END"
    )


@sql_function
def parse_polygon_string_wkt(polygon_string: str) -> str:
    """G2: '[x1:y1:x2:y2:...]' string -> WKT with ring auto-close.

    Coordinate text is preserved verbatim (the reference never parses the
    numbers: segmentation-etl:61-69 joins the split substrings). An odd
    trailing coordinate is dropped. Null/empty input -> null.

    Ref: segmentation-etl/nuclear_segmentation_etl.py:47-76.
    """
    brackets = sql_literal(r"^\[|\]$")
    toks = f"split(regexp_replace(trim({polygon_string}), {brackets}, ''), ':')"
    n_pairs = f"CAST(floor(size({toks}) / 2) AS INT)"
    pts = (
        f"CASE WHEN {n_pairs} > 0 THEN transform(sequence(0, {n_pairs} - 1), "
        f"__i -> concat_ws(' ', element_at({toks}, __i * 2 + 1), element_at({toks}, __i * 2 + 2))) "
        "ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    wkt = f"coalesce({_closed_ring_wkt(pts)}, 'POLYGON (())')"
    return (
        f"CASE WHEN NOT ({polygon_string} IS NULL OR length(trim({polygon_string})) = 0) "
        f"THEN {wkt} END"
    )


@sql_function
def denormalized_polygon_wkt(
    geometry_type: str, coordinates: str, image_width: str, image_height: str
) -> str:
    """G3: normalized (0-1) polygon -> pixel-space WKT, '%.2f %.2f' per
    point, ring auto-closed; requires type == 'Polygon'; null otherwise.

    Ref: mongo-etl/mongodb_to_rdf.py:238-261.
    """
    pts = (
        f"transform(get({coordinates}, 0), __q -> format_string('%.2f %.2f', "
        f"element_at(__q, 1) * {image_width}, element_at(__q, 2) * {image_height}))"
    )
    bad = (
        f"{geometry_type} IS NULL OR {geometry_type} != 'Polygon' OR "
        + _no_outer_ring(coordinates)
    )
    return f"CASE WHEN NOT ({bad}) THEN {_closed_ring_wkt(pts)} END"


# --- measurements (G6-G8): shoelace & friends, all native ----------------


def _xs(ring: Column) -> Column:
    return F.transform(ring, lambda p: F.element_at(p, 1))


def _ys(ring: Column) -> Column:
    return F.transform(ring, lambda p: F.element_at(p, 2))


def ring_area(ring: Column) -> Column:
    """G6: shoelace area of one ring (list of [x,y] points, closed or not).

    |sum(x_i*y_{i+1} - x_{i+1}*y_i)| / 2 over consecutive pairs with
    wraparound. Matches shapely's Polygon.area for simple rings.
    Ref: utils/geometry.py:95-112.
    """
    n = F.size(ring)
    cross = F.aggregate(
        F.sequence(F.lit(1), n),
        F.lit(0.0),
        lambda acc, i: acc
        + F.element_at(ring, i)[0]
        * F.element_at(ring, F.when(i == n, 1).otherwise(i + 1))[1]
        - F.element_at(ring, F.when(i == n, 1).otherwise(i + 1))[0]
        * F.element_at(ring, i)[1],
    )
    return F.when(n >= 3, F.abs(cross) / 2.0).otherwise(F.lit(0.0))


def polygon_area(coordinates: Column) -> Column:
    """G6 over GeoJSON coordinates (outer ring only)."""
    return ring_area(outer_ring(coordinates))


def ring_perimeter(ring: Column) -> Column:
    """G7: perimeter — sum of segment lengths with wraparound close.

    Ref: utils/geometry.py:115-132 (shapely .length semantics: a shapely
    polygon ring is always closed, so the wraparound edge is included).
    """
    n = F.size(ring)
    return F.when(
        n >= 2,
        F.aggregate(
            F.sequence(F.lit(1), n),
            F.lit(0.0),
            lambda acc, i: acc
            + F.sqrt(
                F.pow(
                    F.element_at(ring, F.when(i == n, 1).otherwise(i + 1))[0]
                    - F.element_at(ring, i)[0],
                    2,
                )
                + F.pow(
                    F.element_at(ring, F.when(i == n, 1).otherwise(i + 1))[1]
                    - F.element_at(ring, i)[1],
                    2,
                )
            ),
        ),
    ).otherwise(F.lit(0.0))


def polygon_perimeter(coordinates: Column) -> Column:
    return ring_perimeter(outer_ring(coordinates))


def ring_bounds(ring: Column) -> Column:
    """G8: (minx, miny, maxx, maxy) struct. Ref: utils/geometry.py:135-153."""
    return F.struct(
        F.array_min(_xs(ring)).alias("minx"),
        F.array_min(_ys(ring)).alias("miny"),
        F.array_max(_xs(ring)).alias("maxx"),
        F.array_max(_ys(ring)).alias("maxy"),
    )


def polygon_bounds(coordinates: Column) -> Column:
    return ring_bounds(outer_ring(coordinates))


def wkt_linestring_points(wkt: Column) -> Column:
    """WKT ``LINESTRING(x y, ...)`` string -> point list as
    ``array<array<double>>``, NULL for a non-LINESTRING literal. The
    same coordinate-list parse as the polygon rings (``_coords``, no
    UDF); no closing-point handling — a polyline is open.
    Ref: utils/geometry.py:228-240 (create_linestring)."""
    body = F.regexp_extract(wkt, r"^\s*LINESTRING\s*\(([^)]*)\)", 1)
    return F.when(body != "", _coords(body))


def polyline_length(pts: Column) -> Column:
    """Length of an OPEN polyline (no wraparound edge) — shapely
    ``LineString.length``. Ref: utils/geometry.py:115-132."""
    n = F.size(pts)
    return F.when(
        n >= 2,
        F.aggregate(
            F.sequence(F.lit(1), n - 1),
            F.lit(0.0),
            lambda acc, i: acc
            + F.sqrt(
                F.pow(
                    F.element_at(pts, i + 1)[0] - F.element_at(pts, i)[0], 2
                )
                + F.pow(
                    F.element_at(pts, i + 1)[1] - F.element_at(pts, i)[1], 2
                )
            ),
        ),
    ).otherwise(F.lit(0.0))


def polyline_centroid(pts: Column) -> Column:
    """Centroid of an open polyline as ``struct(cx, cy)``: the
    length-weighted average of segment midpoints (shapely
    ``LineString.centroid``). NULL when total length is 0 (degenerate
    — all points coincident) or fewer than 2 points."""
    n = F.size(pts)

    def step(acc: Column, i: Column) -> Column:
        x0 = F.element_at(pts, i)[0]
        y0 = F.element_at(pts, i)[1]
        x1 = F.element_at(pts, i + 1)[0]
        y1 = F.element_at(pts, i + 1)[1]
        seg = F.sqrt(F.pow(x1 - x0, 2) + F.pow(y1 - y0, 2))
        return F.struct(
            (acc["w"] + seg).alias("w"),
            (acc["cx"] + seg * (x0 + x1) / 2.0).alias("cx"),
            (acc["cy"] + seg * (y0 + y1) / 2.0).alias("cy"),
        )

    zero = F.struct(
        F.lit(0.0).alias("w"), F.lit(0.0).alias("cx"), F.lit(0.0).alias("cy")
    )
    fold = F.aggregate(
        F.sequence(F.lit(1), n - 1),
        zero,
        step,
        lambda acc: F.when(
            acc["w"] > 0.0,
            F.struct(
                (acc["cx"] / acc["w"]).alias("cx"),
                (acc["cy"] / acc["w"]).alias("cy"),
            ),
        ),
    )
    return F.when(n >= 2, fold)


def ring_centroid(ring: Column) -> Column:
    """G14: polygon centroid of one simple ring (closed or not) as
    ``struct(cx, cy)`` — the shoelace-weighted vertex average
    Cx = sum((x_i+x_j)(x_i*y_j - x_j*y_i)) / (6*A_signed), matching
    shapely ``Polygon.centroid`` on simple rings. NULL for degenerate
    rings (signed area 0) and rings with < 3 points — a SPARQL type
    error upstream. One fold, finish-lambda division (acc fields are
    bound values inside the lambda, so the fold runs once per row)."""
    n = F.size(ring)

    def step(acc: Column, i: Column) -> Column:
        xi = F.element_at(ring, i)[0]
        yi = F.element_at(ring, i)[1]
        j = F.when(i == n, 1).otherwise(i + 1)
        xj = F.element_at(ring, j)[0]
        yj = F.element_at(ring, j)[1]
        cr = xi * yj - xj * yi
        return F.struct(
            (acc["a2"] + cr).alias("a2"),
            (acc["cx"] + (xi + xj) * cr).alias("cx"),
            (acc["cy"] + (yi + yj) * cr).alias("cy"),
        )

    zero = F.struct(
        F.lit(0.0).alias("a2"), F.lit(0.0).alias("cx"), F.lit(0.0).alias("cy")
    )
    fold = F.aggregate(
        F.sequence(F.lit(1), n),
        zero,
        step,
        lambda acc: F.when(
            acc["a2"] != 0.0,
            F.struct(
                (acc["cx"] / (acc["a2"] * 3.0)).alias("cx"),
                (acc["cy"] / (acc["a2"] * 3.0)).alias("cy"),
            ),
        ),
    )
    return F.when(n >= 3, fold)


def _orient(ax, ay, bx, by, cx, cy) -> Column:
    """Signed orientation of (a, b, c): >0 counter-clockwise, <0
    clockwise, 0 collinear."""
    return (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)


def rings_intersect(ra: Column, rb: Column) -> Column:
    """G16: do two simple rings (open point lists, one ring of
    wkt_polygon_rings) overlap as filled polygons? True iff any A
    vertex lies in B, any B vertex lies in A, or any edge pair PROPERLY
    crosses — which together cover every simple-polygon intersection
    except pure boundary contact (shared edges / vertex-on-edge
    touching), the same boundary-degenerate class point_in_ring's
    even-odd cast already excludes. Hole validity
    (``_valid_holes_core``) relies on exactly this proper-crossing-only
    meaning; OGC sfIntersects, which counts boundary contact, is
    ``rings_meet``.

    Pass MATERIALIZED columns (or lambda-bound vars) for ra/rb: both
    rings are referenced O(|A|x|B|) times by the edge fold, so an
    inlined WKT parse tree would multiply through the plan (the sp33
    lesson)."""
    a_in_b = F.exists(ra, lambda p: point_in_ring(rb, p[0], p[1]))
    b_in_a = F.exists(rb, lambda p: point_in_ring(ra, p[0], p[1]))
    return a_in_b | b_in_a | _rings_edges_cross(ra, rb)


def _rings_edges_cross(ra: Column, rb: Column) -> Column:
    """Does any edge of closed ring A PROPERLY cross any edge of
    closed ring B? (The edge-pair arm of rings_intersect, exposed for
    the hole-containment check — a hole whose boundary crosses the
    outer ring is not contained even if all its vertices are.) Same
    materialized-input caveat as rings_intersect."""

    def edge(r: Column, n: Column, i: Column):
        j = F.when(i == n, 1).otherwise(i + 1)
        return (
            F.element_at(r, i)[0],
            F.element_at(r, i)[1],
            F.element_at(r, j)[0],
            F.element_at(r, j)[1],
        )

    na, nb = F.size(ra), F.size(rb)

    def crosses(i: Column, j: Column) -> Column:
        p1x, p1y, p2x, p2y = edge(ra, na, i)
        q1x, q1y, q2x, q2y = edge(rb, nb, j)
        d1 = _orient(q1x, q1y, q2x, q2y, p1x, p1y)
        d2 = _orient(q1x, q1y, q2x, q2y, p2x, p2y)
        d3 = _orient(p1x, p1y, p2x, p2y, q1x, q1y)
        d4 = _orient(p1x, p1y, p2x, p2y, q2x, q2y)
        return (
            ((d1 > 0) & (d2 < 0) | (d1 < 0) & (d2 > 0))
            & ((d3 > 0) & (d4 < 0) | (d3 < 0) & (d4 > 0))
        )

    return F.exists(
        F.sequence(F.lit(1), na),
        lambda i: F.exists(F.sequence(F.lit(1), nb), lambda j: crosses(i, j)),
    )


def ring_self_intersects(ring: Column) -> Column:
    """Is a ring (open point list) NON-SIMPLE — i.e. does its closed
    boundary self-intersect? True iff any NON-ADJACENT edge pair of
    the closed cycle intersects (proper crossing like a bowtie, or a
    collinear/vertex touch), or any vertex repeats (other than the
    implicit closure). This is the OGC simple-ring test the round-9
    deviation D8 left structural-only; the reference reached it via
    shapely ``is_valid`` (utils/geometry.py:156-172).

    Adjacent edges share a vertex by construction and are skipped;
    the degenerate spike case (adjacent edges folding back onto each
    other) is caught by the duplicate-vertex arm when exact and by
    the non-adjacent test when the spike spans further edges.

    Accepts closed (GeoJSON-style, first == last) or open rings: a
    closing duplicate is stripped before the test, and the normalized
    ring is LAMBDA-BOUND once (the sp33 ``transform(array(x), f)[0]``
    trick) so the O(n^2) fold references a variable, not a copy of
    the input expression tree — safe to call on parse-derived
    columns."""
    n0 = F.size(ring)
    first, last = F.element_at(ring, 1), F.element_at(ring, n0)
    opened = F.when(
        (n0 >= 2) & (first[0] == last[0]) & (first[1] == last[1]),
        F.slice(ring, 1, n0 - 1),
    ).otherwise(ring)
    return F.element_at(
        F.transform(F.array(opened), _open_ring_self_intersects), 1
    )


def _open_ring_self_intersects(ring: Column) -> Column:
    """ring_self_intersects' core over an OPEN ring (lambda variable
    — referencing it is free)."""
    n = F.size(ring)

    def edge(i: Column):
        j = F.when(i == n, 1).otherwise(i + 1)
        return (
            F.element_at(ring, i)[0],
            F.element_at(ring, i)[1],
            F.element_at(ring, j)[0],
            F.element_at(ring, j)[1],
        )

    def on_span(px, py, qx, qy, rx, ry) -> Column:
        # given (r) collinear with segment (p, q): does r lie within
        # the segment's bbox (i.e. ON the segment)?
        return (
            (rx >= F.least(px, qx)) & (rx <= F.greatest(px, qx))
            & (ry >= F.least(py, qy)) & (ry <= F.greatest(py, qy))
        )

    def pair_intersects(i: Column, j: Column) -> Column:
        p1x, p1y, p2x, p2y = edge(i)
        q1x, q1y, q2x, q2y = edge(j)
        d1 = _orient(q1x, q1y, q2x, q2y, p1x, p1y)
        d2 = _orient(q1x, q1y, q2x, q2y, p2x, p2y)
        d3 = _orient(p1x, p1y, p2x, p2y, q1x, q1y)
        d4 = _orient(p1x, p1y, p2x, p2y, q2x, q2y)
        proper = (
            ((d1 > 0) & (d2 < 0) | (d1 < 0) & (d2 > 0))
            & ((d3 > 0) & (d4 < 0) | (d3 < 0) & (d4 > 0))
        )
        touch = (
            ((d1 == 0) & on_span(q1x, q1y, q2x, q2y, p1x, p1y))
            | ((d2 == 0) & on_span(q1x, q1y, q2x, q2y, p2x, p2y))
            | ((d3 == 0) & on_span(p1x, p1y, p2x, p2y, q1x, q1y))
            | ((d4 == 0) & on_span(p1x, p1y, p2x, p2y, q2x, q2y))
        )
        return proper | touch

    nonadjacent_hit = F.exists(
        F.sequence(F.lit(1), n),
        lambda i: F.exists(
            F.sequence(F.lit(1), n),
            lambda j: (j > i + 1)
            & ~((i == 1) & (j == n))
            & pair_intersects(i, j),
        ),
    )
    dup_vertex = F.size(F.array_distinct(ring)) < n
    return F.when(n >= 3, nonadjacent_hit | dup_vertex).otherwise(
        F.lit(False)
    )


def bounds_wkt(x0: Column, y0: Column, x1: Column, y1: Column) -> Column:
    """G15: bounds -> envelope ``POLYGON`` WKT (counter-clockwise,
    closed, raw double rendering — the same rendering convention as
    polygon_wkt)."""
    minx, miny, maxx, maxy = (c.cast("string") for c in (x0, y0, x1, y1))
    return F.concat(
        F.lit("POLYGON(("),
        minx, F.lit(" "), miny, F.lit(", "),
        maxx, F.lit(" "), miny, F.lit(", "),
        maxx, F.lit(" "), maxy, F.lit(", "),
        minx, F.lit(" "), maxy, F.lit(", "),
        minx, F.lit(" "), miny,
        F.lit("))"),
    )


def is_valid_polygon(geometry_type: Column, coordinates: Column) -> Column:
    """G9: type=='Polygon', non-empty outer ring with >= 3 distinct
    points, positive area, and a SIMPLE boundary (no ring
    self-intersection — ring_self_intersects, closing round-9
    deviation D8 natively; the reference reached the same answer via
    shapely's is_valid, utils/geometry.py:156-172).

    For big parse-derived coordinate expressions, materialize the
    outer ring as a column first (the sp33/rings_intersect plan-size
    rule) — the self-intersection fold references it O(n^2) times."""
    ring = outer_ring(coordinates)
    ok = (
        geometry_type.isNotNull()
        & (geometry_type == F.lit("Polygon"))
        & coordinates.isNotNull()
        & (F.size(coordinates) > 0)
        & ring.isNotNull()
        & (F.size(ring) >= 3)
        & (ring_area(ring) > 0.0)
        & ~ring_self_intersects(ring)
    )
    return F.coalesce(ok, F.lit(False))


def geometry_type(geometry: Column) -> Column:
    """G10. Ref: utils/geometry.py:175-191."""
    return geometry["type"]


def make_point(x: Column, y: Column) -> Column:
    """G11 constructor: POINT WKT. Ref: utils/geometry.py:194-209."""
    return F.concat(
        F.lit("POINT ("), x.cast("string"), F.lit(" "), y.cast("string"), F.lit(")")
    )


def safe_polygon_wkt(coordinates: Column, default: str = "POINT EMPTY") -> Column:
    """G12: WKT with fallback default. Ref: utils/geometry.py:245-260."""
    return F.coalesce(polygon_wkt(coordinates), F.lit(default))


@sql_function
def image_bbox_wkt(image_width: str, image_height: str) -> str:
    """G13: whole-image bounding box 'POLYGON ((0 0, w 0, w h, 0 h, 0 0))'.

    Width/height are integers in the reference (mongo-etl:350).
    """
    w = f"CAST(CAST({image_width} AS BIGINT) AS STRING)"
    h = f"CAST(CAST({image_height} AS BIGINT) AS STRING)"
    fmt = sql_literal("POLYGON ((0 0, %s 0, %s %s, 0 %s, 0 0))")
    return f"format_string({fmt}, {w}, {w}, {h}, {h})"


def zorder_key(x: Column, y: Column, bits: int = 16) -> Column:
    """Z-order (Morton) key: interleave the low ``bits`` bits of two
    non-negative integer coordinates into one long. Spatial extension
    beyond the reference surface: sorting / range-partitioning on this
    key keeps spatial neighbors in the same partitions, which is the
    scale story for geo workloads — partition pruning on a z-key range
    replaces a full scan for bbox queries, the same way IVF cells prune
    embedding probes.

    Pure bit arithmetic (shiftright / bitwiseAND / shiftleft sums), so
    it is whole-stage-codegen'd JVM-side and expressible 1:1 in the
    DuckDB oracle.
    """
    xl = x.cast("long")
    yl = y.cast("long")
    terms = []
    for i in range(bits):
        terms.append(
            F.shiftleft(F.shiftright(xl, i).bitwiseAND(F.lit(1)), 2 * i)
        )
        terms.append(
            F.shiftleft(F.shiftright(yl, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def point_in_ring(ring: Column, px: Column, py: Column) -> Column:
    """Even-odd ray casting: is (px, py) strictly inside the ring?

    One +x ray from the point; an edge (p1 -> p2, wraparound close)
    crosses iff the edge straddles py and the ray's x-intersection lies
    right of px. Division by zero for horizontal edges yields ±inf/NaN
    under IEEE semantics, and the straddle conjunct is already false
    there — both engines compare NaN identically (larger than any
    value), so the expression is oracle-portable without special
    casing. Points exactly ON an edge are parity-undefined (standard
    for even-odd); callers pick strictly interior/exterior probes.
    """
    n = F.size(ring)

    def crossing(i: Column) -> Column:
        p1 = F.element_at(ring, i)
        p2 = F.element_at(ring, (i % n) + 1)
        x1, y1 = p1[0], p1[1]
        x2, y2 = p2[0], p2[1]
        straddles = (y1 > py) != (y2 > py)
        xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
        return straddles & (px < xint)

    hits = F.size(F.filter(F.sequence(F.lit(1), n), crossing))
    return (hits % 2) == 1


# --- interior rings / polygon holes (round 13; closes D8's residual) -----
#
# The reference's data model reads only coordinates[0] (json-etl:34), so
# rounds 1-12 carried outer rings exclusively. Real GeoJSON polygons carry
# interior rings (holes): coordinates[1:] — area subtracts them, validity
# requires them simple / contained / pairwise disjoint, and WKT renders
# one parenthesized ring list per ring. These extend the canonical
# array<array<array<double>>> form to all rings; the single-ring G1-G13
# functions are unchanged.


def hole_rings(coordinates: Column) -> Column:
    """Interior rings (GeoJSON coordinates[1:]) — empty array when the
    polygon has no holes."""
    return F.slice(
        coordinates, 2, F.greatest(F.size(coordinates) - 1, F.lit(0))
    )


def polygon_area_holes(coordinates: Column) -> Column:
    """Shoelace area over ALL rings: |outer| − Σ|holes| — shapely's
    Polygon.area for a polygon with interior rings. Holes are assumed
    nested (is_valid_polygon_holes checks that); each ring's area is
    the absolute shoelace value, so ring orientation is irrelevant."""
    return ring_area(outer_ring(coordinates)) - F.aggregate(
        hole_rings(coordinates),
        F.lit(0.0),
        lambda acc, r: acc + ring_area(r),
    )


def polygon_perimeter_holes(coordinates: Column) -> Column:
    """Boundary length over ALL rings (shapely .length includes hole
    boundaries)."""
    return F.aggregate(
        coordinates, F.lit(0.0), lambda acc, r: acc + ring_perimeter(r)
    )


@sql_function
def polygon_wkt_rings(coordinates: str) -> str:
    """Multi-ring ``POLYGON ((outer), (hole1), ...)`` WKT with per-ring
    auto-close and raw double rendering — the all-rings form of
    polygon_wkt/G1 (which renders coordinates[0] only, matching the
    reference). NULL when the coordinates or the outer ring are
    empty; an empty INTERIOR ring is skipped (array_join drops the
    null body)."""
    bodies = f"transform({coordinates}, __ring -> {_ring_body('__ring')})"
    return (
        f"CASE WHEN NOT ({_no_outer_ring(coordinates)}) "
        f"THEN concat('POLYGON (', array_join({bodies}, ', '), ')') END"
    )


def _coords(body: Column) -> Column:
    """``"x y, x y, ..."`` -> ``array<array<double>>``: the one
    coordinate-list parse every WKT shape with a point list shares
    (regexp split + ``try_cast``, no UDF — a token that is not a
    number reads NULL)."""
    return F.transform(
        F.split(body, r"\s*,\s*"),
        lambda p: F.transform(
            F.split(F.trim(p), r"\s+"), lambda v: v.try_cast("double")
        ),
    )


def _ring(body: Column) -> Column:
    """One ring's coordinate list with the closing repeat of its first
    vertex dropped (closure is implicit everywhere downstream)."""
    pts = _coords(body)
    return F.when(
        (F.size(pts) > 1)
        & (F.element_at(pts, 1) == F.element_at(pts, F.size(pts))),
        F.slice(pts, 1, F.size(pts) - 1),
    ).otherwise(pts)


def _rings(body: Column) -> Column:
    """``"(x y, ...), (x y, ...)"`` (outer parentheses optional) -> one
    ``_ring`` per parenthesized list."""
    ring_strs = F.split(
        F.regexp_replace(body, r"^\s*\(|\)\s*$", ""), r"\)\s*,\s*\("
    )
    return F.transform(ring_strs, _ring)


def wkt_polygon_rings(wkt: Column) -> Column:
    """Multi-ring WKT ``POLYGON((...), (...))`` -> ALL rings as
    ``array<array<array<double>>>`` (the canonical coordinates shape),
    NULL for a non-POLYGON literal."""
    inner = F.regexp_extract(wkt, r"^\s*POLYGON\s*\((.*)\)\s*$", 1)
    return F.when(inner != "", _rings(inner))


def point_in_polygon_holes(
    coordinates: Column, px: Column, py: Column
) -> Column:
    """Even-odd point-in-polygon over ALL rings: strictly inside the
    outer ring AND not inside any hole. Points on any ring boundary
    are parity-undefined, as in point_in_ring."""
    return point_in_ring(outer_ring(coordinates), px, py) & ~F.exists(
        hole_rings(coordinates), lambda h: point_in_ring(h, px, py)
    )


def _valid_holes_core(coords: Column) -> Column:
    """is_valid_polygon_holes' ring checks over a LAMBDA-BOUND
    coordinates variable (the sp33 binding trick — the containment and
    disjointness folds reference the rings O(n^2) times, so the input
    must be a variable, not an expression tree)."""
    outer = F.get(coords, 0)
    holes = F.slice(
        coords, 2, F.greatest(F.size(coords) - 1, F.lit(0))
    )
    outer_ok = (
        outer.isNotNull()
        & (F.size(outer) >= 3)
        & (ring_area(outer) > 0.0)
        & ~ring_self_intersects(outer)
    )
    # each hole: simple ring with positive area, STRICTLY contained in
    # the outer ring (every vertex inside + no boundary cross — vertex
    # tests alone miss a hole whose edges stab through the outer ring)
    hole_ok = F.forall(
        holes,
        lambda h: (F.size(h) >= 3)
        & (ring_area(h) > 0.0)
        & ~ring_self_intersects(h)
        & F.forall(h, lambda p: point_in_ring(outer, p[0], p[1]))
        & ~_rings_edges_cross(outer, h),
    )
    # holes pairwise disjoint as filled regions (covers overlapping AND
    # nested holes — both OGC-invalid); pure point/edge boundary
    # contact between holes is not detected (rings_intersect's
    # documented degenerate class) — fixtures keep margins
    nh = F.size(holes)
    disjoint = F.when(
        nh >= 2,
        ~F.exists(
            F.sequence(F.lit(1), nh),
            lambda i: F.exists(
                F.sequence(F.lit(1), nh),
                lambda j: (j > i)
                & rings_intersect(
                    F.element_at(holes, i), F.element_at(holes, j)
                ),
            ),
        ),
    ).otherwise(F.lit(True))
    return outer_ok & hole_ok & disjoint


def is_valid_polygon_holes(
    geometry_type: Column, coordinates: Column
) -> Column:
    """G9 extended to interior rings (round 13 — the full closure of
    deviation D8): type=='Polygon', valid simple outer ring (the
    is_valid_polygon checks), and every hole simple, positive-area,
    strictly inside the outer ring, and pairwise disjoint (no
    overlapping or nested holes). The reference never validated holes
    (it never read them — json-etl:34); semantics follow shapely
    is_valid on the same fixtures."""
    ok = (
        geometry_type.isNotNull()
        & (geometry_type == F.lit("Polygon"))
        & coordinates.isNotNull()
        & (F.size(coordinates) > 0)
        & F.element_at(
            F.transform(F.array(coordinates), _valid_holes_core), 1
        )
    )
    return F.coalesce(ok, F.lit(False))


# --- MultiPolygon (round 13) ------------------------------------------------
#
# GeoJSON MultiPolygon: coordinates = array of POLYGON coordinate arrays
# (array<array<array<array<double>>>>). Measures sum over the member
# polygons; validity additionally requires the members' filled regions
# pairwise disjoint (an island inside another member's HOLE is valid —
# the overlap test is hole-aware). Completes the geometry data model the
# reference's readers truncate (they read coordinates[0] of Polygons
# only, json-etl:34).


def multipolygon_area(coordinates: Column) -> Column:
    """Σ polygon_area_holes over the member polygons."""
    return F.aggregate(
        coordinates,
        F.lit(0.0),
        lambda acc, poly: acc + polygon_area_holes(poly),
    )


def multipolygon_perimeter(coordinates: Column) -> Column:
    """Σ boundary length over every ring of every member."""
    return F.aggregate(
        coordinates,
        F.lit(0.0),
        lambda acc, poly: acc + polygon_perimeter_holes(poly),
    )


@sql_function
def multipolygon_wkt(coordinates: str) -> str:
    """``MULTIPOLYGON (((...)), ((...), (...)))`` WKT with per-ring
    auto-close and raw double rendering. NULL when the member list is
    empty or the first member has no outer ring."""
    polys = (
        f"transform({coordinates}, __poly -> concat('(', "
        f"array_join(transform(__poly, __ring -> {_ring_body('__ring')}), ', '), ')'))"
    )
    first_outer = f"get(get({coordinates}, 0), 0)"
    empty = (
        f"{coordinates} IS NULL OR size({coordinates}) = 0 "
        f"OR {first_outer} IS NULL OR size({first_outer}) = 0"
    )
    return (
        f"CASE WHEN NOT ({empty}) "
        f"THEN concat('MULTIPOLYGON (', array_join({polys}, ', '), ')') END"
    )


def wkt_multipolygon(wkt: Column) -> Column:
    """Multi-ring ``MULTIPOLYGON`` WKT -> the canonical 4-deep
    coordinates array; NULL for a non-MULTIPOLYGON literal. Each
    member parses like a POLYGON's ring list (``_rings``)."""
    inner = F.regexp_extract(
        wkt, r"^\s*MULTIPOLYGON\s*\((.*)\)\s*$", 1
    )
    poly_strs = F.split(
        F.regexp_replace(inner, r"^\s*\(|\)\s*$", ""),
        r"\)\s*\)\s*,\s*\(\s*\(",
    )
    return F.when(inner != "", F.transform(poly_strs, _rings))


def point_in_multipolygon(
    coordinates: Column, px: Column, py: Column
) -> Column:
    """Inside ANY member polygon (hole-aware)."""
    return F.exists(
        coordinates, lambda poly: point_in_polygon_holes(poly, px, py)
    )


# --- the WKT reader --------------------------------------------------------
#
# Every geof:* function, the SPARQL cover join and the triple store's
# shape statistics read a WKT lexical through these: one shape test, one
# parse and one bbox per shape. The parses are lambda-free up to the
# coordinate lists' ``transform`` (POINT entirely), so Catalyst folds a
# literal's shape tests and its POINT parse at optimization time.

WKT_SHAPES = ("POLYGON", "POINT", "MULTIPOLYGON", "LINESTRING")


def wkt_shape_pattern(shape: str) -> str:
    """The regex a ``shape`` lexical starts with: the keyword and an
    opening parenthesis. At most one shape's pattern matches any
    lexical."""
    return rf"^\s*{shape}\s*\("


def is_wkt_shape(lex: Column, shape: str) -> Column:
    return lex.rlike(wkt_shape_pattern(shape))


def wkt_point_xy(wkt: Column) -> tuple[Column, Column]:
    """WKT ``POINT(x y)`` (optional space before the parenthesis) -> its
    (x, y) double Columns: both NULL for a non-POINT lexical, either
    NULL for a coordinate ``try_cast`` does not read — never an ANSI
    cast error."""
    pat = r"^\s*POINT\s*\(\s*([^\s(),]+)\s+([^\s(),]+)\s*\)"
    return (
        F.regexp_extract(wkt, pat, 1).try_cast("double"),
        F.regexp_extract(wkt, pat, 2).try_cast("double"),
    )


# parsed forms: POINT -> its (x, y) Columns; POLYGON -> all rings, outer
# first; MULTIPOLYGON -> member ring arrays; LINESTRING -> point list
WKT_PARSE = {
    "POLYGON": wkt_polygon_rings,
    "POINT": wkt_point_xy,
    "MULTIPOLYGON": wkt_multipolygon,
    "LINESTRING": wkt_linestring_points,
}


def _points_bbox(pts: Column) -> tuple:
    xs = F.transform(pts, lambda p: p[0])
    ys = F.transform(pts, lambda p: p[1])
    return F.array_min(xs), F.array_min(ys), F.array_max(xs), F.array_max(ys)


# (x0, y0, x1, y1) of a parsed operand: a polygon's outer ring (holes
# cannot extend it), every member's outer ring, a line's points
WKT_BBOX = {
    "POLYGON": lambda r: _points_bbox(F.get(r, 0)),
    "POINT": lambda p: (p[0], p[1], p[0], p[1]),
    "MULTIPOLYGON": lambda m: _points_bbox(
        F.flatten(F.transform(m, lambda poly: F.get(poly, 0)))
    ),
    "LINESTRING": _points_bbox,
}


def _polygons_overlap(pa: Column, pb: Column) -> Column:
    """Do two polygons' FILLED regions (holes respected) overlap?
    Hole-aware on the vertex tests, so an island sitting inside the
    other member's hole is NOT an overlap (OGC-valid nesting); edge
    crossings are tested between EVERY ring pair, not just the outer
    hulls — a member whose vertices all sit inside the other's
    non-convex hole but whose edges span the hole's gap crosses the
    HOLE ring, never the outer one (round-13 review finding). Any
    proper boundary crossing between two valid polygons implies their
    filled regions overlap; an island strictly inside a hole crosses
    nothing. Pure boundary contact is not detected (the documented
    rings_intersect degenerate class)."""
    a_in_b = F.exists(
        F.get(pa, 0), lambda p: point_in_polygon_holes(pb, p[0], p[1])
    )
    b_in_a = F.exists(
        F.get(pb, 0), lambda p: point_in_polygon_holes(pa, p[0], p[1])
    )
    any_ring_cross = F.exists(
        pa,
        lambda ra: F.exists(
            pb, lambda rb: _rings_edges_cross(ra, rb)
        ),
    )
    return a_in_b | b_in_a | any_ring_cross


def is_valid_multipolygon(coordinates: Column) -> Column:
    """Every member a valid polygon-with-holes AND members' filled
    regions pairwise disjoint. Lambda-bound like
    is_valid_polygon_holes (the folds reference the members O(p^2 *
    n^2) times)."""

    def core(polys: Column) -> Column:
        each = F.forall(polys, _valid_holes_core)
        np = F.size(polys)
        disjoint = F.when(
            np >= 2,
            ~F.exists(
                F.sequence(F.lit(1), np),
                lambda i: F.exists(
                    F.sequence(F.lit(1), np),
                    lambda j: (j > i)
                    & _polygons_overlap(
                        F.element_at(polys, i), F.element_at(polys, j)
                    ),
                ),
            ),
        ).otherwise(F.lit(True))
        return each & disjoint

    ok = (
        coordinates.isNotNull()
        & (F.size(coordinates) > 0)
        & F.element_at(F.transform(F.array(coordinates), core), 1)
    )
    return F.coalesce(ok, F.lit(False))


def polygon_centroid_holes(coordinates: Column) -> Column:
    """Centroid of a polygon WITH interior rings as ``struct(cx, cy)``:
    the ring-wise signed combination
    ``(A_outer*C_outer − Σ A_hole*C_hole) / (A_outer − Σ A_holes)``
    with absolute shoelace areas — shapely ``Polygon.centroid`` on the
    same fixtures. NULL when the outer ring is degenerate or the live
    area is 0 (a SPARQL type error upstream). The per-ring folds are
    computed once into one bound struct (the sp33 rule) before the
    final division references them."""
    outer = outer_ring(coordinates)
    holes = hole_rings(coordinates)
    zero = F.struct(
        F.lit(0.0).alias("a"), F.lit(0.0).alias("x"),
        F.lit(0.0).alias("y"),
    )
    def hole_step(acc: Column, h: Column) -> Column:
        # bind (area, centroid) once per hole; a DEGENERATE hole
        # (zero area -> NULL centroid) contributes zero weight rather
        # than NULL-poisoning the fold (round-13 review finding)
        return F.get(
            F.transform(
                F.array(
                    F.struct(
                        ring_area(h).alias("a"),
                        ring_centroid(h).alias("c"),
                    )
                ),
                lambda s: F.struct(
                    (acc["a"] + s["a"]).alias("a"),
                    F.when(
                        s["c"].isNotNull(),
                        acc["x"] + s["a"] * s["c"]["cx"],
                    ).otherwise(acc["x"]).alias("x"),
                    F.when(
                        s["c"].isNotNull(),
                        acc["y"] + s["a"] * s["c"]["cy"],
                    ).otherwise(acc["y"]).alias("y"),
                ),
            ),
            0,
        )

    agg = F.aggregate(holes, zero, hole_step)
    pre = F.struct(
        ring_area(outer).alias("a0"),
        ring_centroid(outer).alias("c0"),
        agg.alias("h"),
    )
    return F.get(
        F.transform(
            F.array(pre),
            lambda s: F.when(
                (s["a0"] - s["h"]["a"] > 0.0) & s["c0"].isNotNull(),
                F.struct(
                    (
                        (s["a0"] * s["c0"]["cx"] - s["h"]["x"])
                        / (s["a0"] - s["h"]["a"])
                    ).alias("cx"),
                    (
                        (s["a0"] * s["c0"]["cy"] - s["h"]["y"])
                        / (s["a0"] - s["h"]["a"])
                    ).alias("cy"),
                ),
            ),
        ),
        0,
    )


def multipolygon_centroid(coordinates: Column) -> Column:
    """Centroid of a MultiPolygon as ``struct(cx, cy)``: the
    area-weighted combination of the members' hole-aware centroids
    (Σ Ai*Ci / Σ Ai). NULL when the TOTAL live area is 0; a single
    degenerate (zero-area) member contributes zero weight instead of
    NULL-poisoning the fold, and each member's (area, centroid) pair
    is bound once (the sp33 rule) rather than re-evaluating the
    shoelace folds per field (both round-13 review findings)."""
    zero = F.struct(
        F.lit(0.0).alias("a"), F.lit(0.0).alias("x"),
        F.lit(0.0).alias("y"),
    )

    def member_step(acc: Column, poly: Column) -> Column:
        return F.get(
            F.transform(
                F.array(
                    F.struct(
                        polygon_area_holes(poly).alias("a"),
                        polygon_centroid_holes(poly).alias("c"),
                    )
                ),
                lambda s: F.struct(
                    (acc["a"] + s["a"]).alias("a"),
                    F.when(
                        s["c"].isNotNull(),
                        acc["x"] + s["a"] * s["c"]["cx"],
                    ).otherwise(acc["x"]).alias("x"),
                    F.when(
                        s["c"].isNotNull(),
                        acc["y"] + s["a"] * s["c"]["cy"],
                    ).otherwise(acc["y"]).alias("y"),
                ),
            ),
            0,
        )

    agg = F.aggregate(coordinates, zero, member_step)
    return F.get(
        F.transform(
            F.array(agg),
            lambda s: F.when(
                s["a"] > 0.0,
                F.struct(
                    (s["x"] / s["a"]).alias("cx"),
                    (s["y"] / s["a"]).alias("cy"),
                ),
            ),
        ),
        0,
    )


# --- simple-features predicates (round 14) -------------------------------
#
# GeoSPARQL's remaining simple-features relations — sfTouches,
# sfOverlaps, sfEquals, sfCrosses — plus the hole-aware / boundary-
# contact-aware polygon-polygon sfIntersects that closes the round-13
# "outer-hull, contact-blind" residual. The reference never shipped
# these (its spatial surface is point-in-polygon via shapely,
# utils/geometry.py:156-172); they are the natural completion of the
# geof: family for a consumer whose zones are donuts/multi-part.
#
# Decision procedure (all native HOF folds, no UDF):
#   boundary contact  = any closed-edge pair of any ring pair shares a
#                       point (proper cross OR endpoint-on-segment OR
#                       collinear overlap — _seg_touch).
#   interior overlap  = any PROBE point (ring vertices + edge
#                       midpoints) of A strictly inside B (even-odd,
#                       hole-aware, boundary excluded) or vice versa,
#                       OR any ring pair properly crossing (a proper
#                       boundary crossing of two valid polygons always
#                       exposes an interior∩interior neighborhood).
#   A within B        = every probe of A inside-or-on B, no proper
#                       ring crossing, and no probe of B strictly
#                       inside A (a hole of B poking into A, or B
#                       spilling out, both leave such a witness).
# Then touches = contact ∧ ¬interior-overlap ∧ ¬within either way;
# overlaps = interior-overlap ∧ ¬within either way; equals =
# within both ways (OGC's own definition — no canonicalization, so a
# ring with an extra collinear vertex still equals its minimal form).
#
# Probe resolution: vertices + edge midpoints decide every pair of
# axis-aligned / general-position polygons, including the collinear-
# shifted overlaps the proper-cross test alone misses; adversarial
# needle geometries thinner than half an edge can evade probes
# (documented — densify rings upstream if such data exists). Exact
# contact at binary-representable coordinates (.0/.5 lattices, the
# fixture convention) is decided exactly by the orientation signs.
# All inputs must be MATERIALIZED/lambda-bound columns (the sp33
# plan-size rule): every fold references its rings O(|A|x|B|) times.


def _on_segment(ax, ay, bx, by, cx, cy, d) -> Column:
    """Is c (already known collinear when d==0) on closed segment
    a-b?"""
    return (
        (d == 0)
        & (cx >= F.least(ax, bx)) & (cx <= F.greatest(ax, bx))
        & (cy >= F.least(ay, by)) & (cy <= F.greatest(ay, by))
    )


def _seg_touch(px1, py1, px2, py2, qx1, qy1, qx2, qy2) -> Column:
    """Do CLOSED segments p and q share at least one point? Proper
    crossing, endpoint contact, T-contact and collinear overlap all
    count. Each segment's endpoints lie on both sides of (or on) the
    other's line, and the segments' bounding boxes overlap: the box
    test only decides the collinear case (all four orientations zero),
    and any shared point satisfies it. One reference per orientation
    keeps the folds that call this per edge pair small."""
    d1 = _orient(qx1, qy1, qx2, qy2, px1, py1)
    d2 = _orient(qx1, qy1, qx2, qy2, px2, py2)
    d3 = _orient(px1, py1, px2, py2, qx1, qy1)
    d4 = _orient(px1, py1, px2, py2, qx2, qy2)
    return (
        (F.signum(d1) * F.signum(d2) <= 0)
        & (F.signum(d3) * F.signum(d4) <= 0)
        & (F.least(px1, px2) <= F.greatest(qx1, qx2))
        & (F.least(qx1, qx2) <= F.greatest(px1, px2))
        & (F.least(py1, py2) <= F.greatest(qy1, qy2))
        & (F.least(qy1, qy2) <= F.greatest(py1, py2))
    )


def _ring_edge(r: Column, n: Column, i: Column):
    """Edge i of a closed ring (open point list r of size n), with the
    wraparound closing edge at i == n."""
    j = F.when(i == n, 1).otherwise(i + 1)
    return (
        F.element_at(r, i)[0], F.element_at(r, i)[1],
        F.element_at(r, j)[0], F.element_at(r, j)[1],
    )


def rings_edges_touch(ra: Column, rb: Column) -> Column:
    """Does any closed-edge pair of rings A and B share a point
    (boundary contact, contrast _rings_edges_cross's proper-only
    test)? Same materialized-input caveat."""
    na, nb = F.size(ra), F.size(rb)

    def touch(i: Column, j: Column) -> Column:
        p1x, p1y, p2x, p2y = _ring_edge(ra, na, i)
        q1x, q1y, q2x, q2y = _ring_edge(rb, nb, j)
        return _seg_touch(p1x, p1y, p2x, p2y, q1x, q1y, q2x, q2y)

    return F.exists(
        F.sequence(F.lit(1), na),
        lambda i: F.exists(F.sequence(F.lit(1), nb), lambda j: touch(i, j)),
    )


def rings_meet(ra: Column, rb: Column) -> Column:
    """OGC sfIntersects for two simple rings as filled polygons,
    boundary contact included: a vertex of one inside the other, or
    any closed-edge pair sharing a point. Same materialized-input
    caveat."""
    a_in_b = F.exists(ra, lambda p: point_in_ring(rb, p[0], p[1]))
    b_in_a = F.exists(rb, lambda p: point_in_ring(ra, p[0], p[1]))
    return a_in_b | b_in_a | rings_edges_touch(ra, rb)


def point_on_rings_boundary(rings: Column, px: Column, py: Column) -> Column:
    """Is (px, py) exactly on any edge of any ring of a multi-ring
    polygon (coordinates shape array<ring>)? Exact at binary-
    representable lattices; the deterministic complement to the
    even-odd cast's parity-undefined boundary."""
    def on_ring(r: Column) -> Column:
        n = F.size(r)

        def on_edge(i: Column) -> Column:
            x1, y1, x2, y2 = _ring_edge(r, n, i)
            return _on_segment(
                x1, y1, x2, y2, px, py, _orient(x1, y1, x2, y2, px, py)
            )

        return F.exists(F.sequence(F.lit(1), n), on_edge)

    return F.exists(rings, on_ring)


def point_strictly_in_polygon(
    rings: Column, px: Column, py: Column
) -> Column:
    """Strict interior membership: even-odd hole-aware AND not on any
    ring boundary (where the cast's parity is undefined)."""
    return point_in_polygon_holes(rings, px, py) & ~point_on_rings_boundary(
        rings, px, py
    )


def point_strictly_in_multipolygon(
    members: Column, px: Column, py: Column
) -> Column:
    """Strictly inside some member polygon (members of a valid
    multipolygon meet at most in points, which are boundary)."""
    return F.exists(
        members, lambda poly: point_strictly_in_polygon(poly, px, py)
    )


def _ring_probes(r: Column) -> Column:
    """Probe points of a closed ring: its vertices plus every edge
    midpoint (wraparound edge included). Midpoints decide the
    collinear-shifted configurations where every vertex of one
    polygon lands exactly on the other's boundary."""
    n = F.size(r)
    mids = F.transform(
        F.sequence(F.lit(1), n), lambda i: _mid_of(_ring_edge(r, n, i))
    )
    return F.concat(r, mids)


def _mid_of(edge) -> Column:
    x1, y1, x2, y2 = edge
    return F.array((x1 + x2) / 2, (y1 + y2) / 2)


def polygon_probes(rings: Column) -> Column:
    """All probe points of a multi-ring polygon (every ring's vertices
    + midpoints), as one flat array<point>."""
    return F.flatten(F.transform(rings, _ring_probes))


def _any_ring_pair(pa: Column, pb: Column, fn) -> Column:
    return F.exists(pa, lambda ra: F.exists(pb, lambda rb: fn(ra, rb)))


def _sf_pieces(
    pa: Column, pb: Column, need: tuple = ("touch", "io", "wab", "wba")
) -> dict:
    """The shared building blocks of the composite simple-features
    predicates, each constructed ONCE and reused by reference.

    Column trees are immutable, so embedding the same Column object in
    several predicates costs nothing extra — but re-CONSTRUCTING these
    folds per predicate costs real driver time (every F.* call is a
    py4j round trip; the first cut built polygons_touch from four
    independent within/overlap trees and spent ~3 s of pure Python
    plan construction per call — measured round 14). ``need`` names
    the pieces the caller composes; anything else (and its exclusive
    prerequisites) is skipped."""
    need = set(need)
    probes_a, probes_b = polygon_probes(pa), polygon_probes(pb)
    cross = _any_ring_pair(pa, pb, _rings_edges_cross)
    a_strict = (
        F.exists(
            probes_a, lambda p: point_strictly_in_polygon(pb, p[0], p[1])
        )
        if need & {"io", "wba"}
        else None
    )
    b_strict = (
        F.exists(
            probes_b, lambda p: point_strictly_in_polygon(pa, p[0], p[1])
        )
        if need & {"io", "wab"}
        else None
    )
    pieces = {}
    if "touch" in need:
        pieces["touch"] = _any_ring_pair(pa, pb, rings_edges_touch)
    if "io" in need:
        # interiors intersect: a strict probe witness either way, or a
        # proper boundary crossing (which always exposes an
        # interior∩interior neighborhood between valid polygons). The
        # equal / within-with-shared-boundary cases leave neither —
        # the within pieces distinguish them.
        pieces["io"] = a_strict | b_strict | cross
    if not need & {"wab", "wba"}:
        return pieces

    def _within(pa_, pb_, probes_a_, other_strict) -> Column:
        """A ⊆ B (boundary contact allowed): every probe of A
        inside-or-on B, no proper ring crossing, no probe of B
        strictly inside A (a hole of B nested inside A, or B
        spilling out, both leave such a witness), and A's outer
        boundary not lying wholly ON B's hole boundary — a simple
        closed curve inside another ring's point set IS that ring,
        so such an A is B's filled hole (exterior), not contained;
        B's interior face keeps its probes on B's OUTER ring, so
        equality survives this conjunct."""
        probes_ok = F.forall(
            probes_a_,
            lambda p: point_in_polygon_holes(pb_, p[0], p[1])
            | point_on_rings_boundary(pb_, p[0], p[1]),
        )
        not_hole_fill = ~(
            (F.size(pb_) > 1)
            & F.forall(
                _ring_probes(outer_ring(pa_)),
                lambda p: point_on_rings_boundary(
                    hole_rings(pb_), p[0], p[1]
                ),
            )
        )
        return probes_ok & ~cross & ~other_strict & not_hole_fill

    if "wab" in need:
        pieces["wab"] = _within(pa, pb, probes_a, b_strict)
    if "wba" in need:
        pieces["wba"] = _within(pb, pa, probes_b, a_strict)
    return pieces


def polygon_within_polygon(pa: Column, pb: Column) -> Column:
    """A ⊆ B for valid hole-aware polygons (boundary contact allowed,
    OGC sfWithin for the polygon-polygon case). See ``_sf_pieces``."""
    return _sf_pieces(pa, pb, need=("wab",))["wab"]


def polygons_touch(pa: Column, pb: Column) -> Column:
    """OGC sfTouches, polygon-polygon: boundaries share a point,
    interiors do not intersect. The within pieces exclude the
    shared-boundary containment/equality cases the probe-based
    interior test cannot witness."""
    p = _sf_pieces(pa, pb)
    return p["touch"] & ~p["io"] & ~p["wab"] & ~p["wba"]


def polygons_overlap_sf(pa: Column, pb: Column) -> Column:
    """OGC sfOverlaps, polygon-polygon: interiors intersect and
    neither is within the other (equality implies within both ways,
    so equal polygons are correctly NOT overlaps)."""
    p = _sf_pieces(pa, pb, need=("io", "wab", "wba"))
    return p["io"] & ~p["wab"] & ~p["wba"]


def polygons_equal_sf(pa: Column, pb: Column) -> Column:
    """OGC sfEquals, polygon-polygon: within both ways — topological
    equality, so vertex order, starting vertex, winding and extra
    collinear vertices are all irrelevant (no canonicalization)."""
    p = _sf_pieces(pa, pb, need=("wab", "wba"))
    return p["wab"] & p["wba"]


def polygons_intersect_sf(pa: Column, pb: Column) -> Column:
    """OGC sfIntersects, polygon-polygon, hole-aware AND boundary-
    contact-aware (round 14 — closes the round-13 outer-hull
    residual): interiors overlap or boundaries touch. A polygon
    sitting wholly inside another's hole has neither witness —
    disjoint, as OGC requires."""
    p = _sf_pieces(pa, pb, need=("io", "touch"))
    return p["io"] | p["touch"]


def _polyline_probes(pts: Column) -> Column:
    """Vertices + segment midpoints of an OPEN polyline (no
    wraparound edge)."""
    n = F.size(pts)
    mids = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.array(
            (F.element_at(pts, i)[0] + F.element_at(pts, i + 1)[0]) / 2,
            (F.element_at(pts, i)[1] + F.element_at(pts, i + 1)[1]) / 2,
        ),
    )
    return F.concat(pts, mids)


def _polyline_crosses_rings(pts: Column, rings: Column) -> Column:
    """Does any OPEN polyline segment PROPERLY cross any closed ring
    edge of the polygon?"""
    n = F.size(pts)

    def seg_crosses_ring(i: Column, r: Column) -> Column:
        nr = F.size(r)
        p1x, p1y = F.element_at(pts, i)[0], F.element_at(pts, i)[1]
        p2x, p2y = (
            F.element_at(pts, i + 1)[0], F.element_at(pts, i + 1)[1],
        )

        def crosses(j: Column) -> Column:
            q1x, q1y, q2x, q2y = _ring_edge(r, nr, j)
            d1 = _orient(q1x, q1y, q2x, q2y, p1x, p1y)
            d2 = _orient(q1x, q1y, q2x, q2y, p2x, p2y)
            d3 = _orient(p1x, p1y, p2x, p2y, q1x, q1y)
            d4 = _orient(p1x, p1y, p2x, p2y, q2x, q2y)
            return (
                ((d1 > 0) & (d2 < 0) | (d1 < 0) & (d2 > 0))
                & ((d3 > 0) & (d4 < 0) | (d3 < 0) & (d4 > 0))
            )

        return F.exists(F.sequence(F.lit(1), nr), crosses)

    return F.exists(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.exists(rings, lambda r: seg_crosses_ring(i, r)),
    )


def line_crosses_polygon(pts: Column, rings: Column) -> Column:
    """OGC sfCrosses for LINESTRING x POLYGON: the line's interior
    meets both the polygon's interior and its exterior. A proper
    crossing of any boundary ring witnesses both sides at once;
    otherwise probe points (vertices + midpoints) must land strictly
    inside AND strictly outside (hole-aware — a hole is exterior)."""
    probes = _polyline_probes(pts)
    some_in = F.exists(
        probes, lambda p: point_strictly_in_polygon(rings, p[0], p[1])
    )
    some_out = F.exists(
        probes,
        lambda p: ~point_in_polygon_holes(rings, p[0], p[1])
        & ~point_on_rings_boundary(rings, p[0], p[1]),
    )
    return (some_in & some_out) | _polyline_crosses_rings(pts, rings)


def lines_cross(pa: Column, pb: Column) -> Column:
    """OGC sfCrosses for LINESTRING x LINESTRING: some proper segment
    crossing (a point interior to both lines). Endpoint contact and
    collinear overlap are NOT crosses (dimension rules)."""
    na, nb = F.size(pa), F.size(pb)

    def edge(p: Column, i: Column):
        return (
            F.element_at(p, i)[0], F.element_at(p, i)[1],
            F.element_at(p, i + 1)[0], F.element_at(p, i + 1)[1],
        )

    def crosses(i: Column, j: Column) -> Column:
        p1x, p1y, p2x, p2y = edge(pa, i)
        q1x, q1y, q2x, q2y = edge(pb, j)
        d1 = _orient(q1x, q1y, q2x, q2y, p1x, p1y)
        d2 = _orient(q1x, q1y, q2x, q2y, p2x, p2y)
        d3 = _orient(p1x, p1y, p2x, p2y, q1x, q1y)
        d4 = _orient(p1x, p1y, p2x, p2y, q2x, q2y)
        return (
            ((d1 > 0) & (d2 < 0) | (d1 < 0) & (d2 > 0))
            & ((d3 > 0) & (d4 < 0) | (d3 < 0) & (d4 > 0))
        )

    return F.exists(
        F.sequence(F.lit(1), na - 1),
        lambda i: F.exists(
            F.sequence(F.lit(1), nb - 1), lambda j: crosses(i, j)
        ),
    )
