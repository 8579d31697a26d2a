"""The geosparql_query mix: four query kinds, each with constant
bindings drawn from the seed, and their expected answers computed in
plain Python from the generated geometry.

Tiles and nuclei are axis-aligned rectangles with integer corners;
windows sit on half-integer coordinates and nuclei never touch a tile
grid line, so every answer is exact interval arithmetic.

A per-row relate kind (sfTouches / sfOverlaps flags against a constant
box) is left out: its cold call and samples took about 20 s of a run,
which the run budget (48 runs in 3420 s) cannot carry.
"""

from __future__ import annotations

import random
import re
from collections import Counter

from perfbench.gen import (
    GRID_X,
    GRID_Y,
    NUCLEUS_SNOMED,
    TILE,
    TISSUE_CLASSES,
    EtlInputs,
    sha256_hex,
)

KINDS = ("window", "zone_join", "star_agg", "urn_lookup")
BINDINGS_PER_KIND = 1

PREFIXES = (
    "PREFIX geo: <http://www.opengis.net/ont/geosparql#> "
    "PREFIX geof: <geof:> "
    "PREFIX hal: <https://halcyon.is/ns/> "
    "PREFIX sno: <http://snomed.info/id/> "
    "PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#> "
    "PREFIX prov: <http://www.w3.org/ns/prov#> "
)
SNO = "http://snomed.info/id/"
_NUM = re.compile(r"-?\d+(?:\.\d+)?")


def rect_of_wkt(wkt: str) -> tuple:
    """Bounding rectangle of an axis-aligned WKT polygon, as floats."""
    v = [float(t) for t in _NUM.findall(wkt)]
    xs, ys = v[0::2], v[1::2]
    return (min(xs), min(ys), max(xs), max(ys))


def _poly(x0, y0, x1, y1) -> str:
    return f"POLYGON(({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, {x0} {y0}))"


def _within(a, b) -> bool:
    return a[0] >= b[0] and a[1] >= b[1] and a[2] <= b[2] and a[3] <= b[3]


def _overlap(a, b) -> bool:
    """The interiors intersect."""
    return max(a[0], b[0]) < min(a[2], b[2]) and max(a[1], b[1]) < min(a[3], b[3])


def _f(box) -> tuple:
    return tuple(float(v) for v in box)


class Query:
    """One (kind, binding): its SPARQL text and expected answer."""

    def __init__(self, kind: str, label: str, text: str, expected: Counter, norm):
        self.kind, self.label, self.text = kind, label, PREFIXES + text
        self.expected, self._norm = expected, norm

    def check(self, rows) -> str | None:
        """None when ``rows`` equal the expected multiset, else why not."""
        got = Counter(self._norm(r) for r in rows)
        if got == self.expected:
            return None
        missing = self.expected - got
        extra = got - self.expected
        return (
            f"{self.kind}[{self.label}]: {sum(got.values())} rows, expected "
            f"{sum(self.expected.values())}; missing {list(missing)[:2]} "
            f"extra {list(extra)[:2]}"
        )


def build_queries(inp: EtlInputs, seed: int) -> list[Query]:
    """The fixed mix for ``seed``: BINDINGS_PER_KIND of each kind."""
    rng = random.Random(seed * 7919 + 17)
    tiles = [t for t in inp.tiles if t.cls is not None]
    nuclei = inp.nuclei
    geoms = [t.box for t in tiles] + nuclei
    classes = list(TISSUE_CLASSES)
    out: list[Query] = []

    for i in range(BINDINGS_PER_KIND):
        w, h = 4 * TILE, 3 * TILE
        x0 = rng.randint(0, GRID_X * TILE - w) + 0.5
        y0 = rng.randint(0, GRID_Y * TILE - h) + 0.5
        win = (x0, y0, x0 + w, y0 + h)
        out.append(Query(
            "window", f"w{i}",
            "SELECT ?w WHERE { ?f geo:hasGeometry ?g . ?g geo:asWKT ?w . "
            f'FILTER(geof:sfWithin(?w, "{_poly(*win)}")) }}',
            Counter(_f(g) for g in geoms if _within(g, win)),
            lambda r: rect_of_wkt(r["w"]),
        ))

    # the predicate is fixed, not drawn, so every seed's zone join does
    # the same kind of work (window covers sfWithin)
    fn = "sfIntersects"
    for cls in rng.sample(classes, BINDINGS_PER_KIND):
        boxes = [t.box for t in tiles if t.cls == cls]
        pairs = [(n, b) for n in nuclei for b in boxes if _overlap(n, b)]
        out.append(Query(
            "zone_join", f"{fn}:{cls}",
            f"SELECT ?nw ?tw WHERE {{ ?t hal:classification sno:{TISSUE_CLASSES[cls]} . "
            "?t geo:hasGeometry ?tg . ?tg geo:asWKT ?tw . "
            f"?n hal:classification sno:{NUCLEUS_SNOMED} . "
            "?n geo:hasGeometry ?ng . ?ng geo:asWKT ?nw . "
            f"FILTER(geof:{fn}(?nw, ?tw)) }}",
            Counter((_f(n), _f(b)) for n, b in pairs),
            lambda r: (rect_of_wkt(r["nw"]), rect_of_wkt(r["tw"])),
        ))

    for _ in range(BINDINGS_PER_KIND):
        pair = rng.sample(classes, 2)
        ids = [TISSUE_CLASSES[c] for c in pair]
        exp = Counter()
        for t in tiles:
            if t.cls in pair:
                exp[(SNO + TISSUE_CLASSES[t.cls], "urn:sha256:" + sha256_hex(t.image))] += 1
        out.append(Query(
            "star_agg", "+".join(pair),
            "SELECT ?c ?img (COUNT(?f) AS ?n) WHERE { ?doc rdfs:member ?f . "
            "?f hal:classification ?c . ?doc prov:wasGeneratedBy ?a . ?a prov:used ?img "
            f"FILTER(?c = sno:{ids[0]} || ?c = sno:{ids[1]}) }} GROUP BY ?c ?img",
            Counter({k + (v,): 1 for k, v in exp.items()}),
            lambda r: (r["c"], r["img"], int(r["n"])),
        ))

    json_images = sorted({t.image for t in inp.tiles})
    seg_docs = Counter(name.split(".svs/")[0] for name in inp.seg_docs)
    for image in rng.sample(json_images + sorted(seg_docs), BINDINGS_PER_KIND):
        rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
        if image in seg_docs:
            # one image object per patch document of the slide
            h = sha256_hex(image + ".svs")
            n = seg_docs[image]
            exp = Counter({(rdf_type, "https://schema.org/ImageObject"): n,
                           ("http://purl.org/dc/terms/identifier", image + ".svs"): n})
        else:
            h = sha256_hex(image)
            exif = "http://www.w3.org/2003/12/exif/ns#"
            exp = Counter({(rdf_type, "https://schema.org/ImageObject"): 1,
                           ("http://purl.org/dc/terms/identifier", image): 1,
                           (exif + "height", "40000"): 1,
                           (exif + "width", "40000"): 1})
        out.append(Query(
            "urn_lookup", image,
            f"SELECT ?p ?o WHERE {{ <urn:sha256:{h}> ?p ?o }}",
            exp,
            lambda r: (r["p"], r["o"]),
        ))
    return out
