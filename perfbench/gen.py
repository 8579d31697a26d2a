"""Seeded single-process input generator for the benchmark.

Everything the engine reads comes from here: GeoJSON tissue tiles,
segmentation patch CSVs in the 4-level tree, MongoDB stand-in parquet
(analyses + skewed marks) and the slide-hash table. The same seed
writes the same bytes. Each generator also returns what the benchmark needs to check
the engine's outputs in plain Python: file names, document and member
counts, and the geometry behind the GeoSPARQL expected answers.

Geometry is axis-aligned and integral so every spatial predicate has
an exact answer: tissue tiles are TILE-px squares on a grid, nuclei
are small rectangles whose edges never lie on a tile grid line.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

# SNOMED tissue classes as json_etl's registry names them (class -> id).
TISSUE_CLASSES = {
    "400p-Acinar tissue": "73681006",
    "400p-Dysplastic epithelium": "61313004",
    "400p-Fibrosis": "112674009",
    "400p-Lymph Aggregates": "267190001",
    "400p-Necrosis": "6574001",
    "400p-Nerves": "88545005",
    "400p-Normal ductal epithelium": "27834005",
    "400p-Reactive": "11214006",
    "400p-Stroma": "128752000",
    "400p-Tumor": "108369006",
}
NUCLEUS_SNOMED = "68841002"
TIMESTAMP_JSON = "2024-01-01T00:00:00Z"
TIMESTAMP_SEG = "2024-01-01T00:00:00+00:00"

TILE = 256  # tissue tile edge, px
GRID_X, GRID_Y = 20, 15  # tiles per image (all images share one pixel space)
# tiles per image without a registry class; the rest split evenly over
# the ten classes, so every class covers the same area in every seed and
# a query bound to one class does the same work whichever the seed picks
UNQUALIFIED_TILES = 10


# Sizes are set by the run budget, not by the paper's data: one run
# (set-up with a cold call of every operation, then a fixed number of
# cycles) must take about a minute on 4 cores, since a check makes 48
# runs. At these sizes one warm operation takes 1-3 s, so the fixed
# per-job cost (plan building, Spark job and task start-up) carries a
# large share next to the data-dependent render, sink and predicate
# work; the traced run reports both.
@dataclass(frozen=True)
class EtlSize:
    json_files: int = 4
    seg_images: int = 4  # slides, split over two cancer types
    seg_patches: int = 8  # patch CSVs per slide
    seg_rows: int = 30  # nuclei per patch CSV
    analyses: int = 8
    hot_marks: int = 2500  # marks of the one hot analysis
    cold_marks: int = 150  # marks of every other analysis
    missing_hashes: int = 2  # slides absent from the hash table


# geosparql_query reads only the json_etl and segmentation_etl output:
# half the tissue images and slides, and a token mongo collection
QUERY_SIZE = EtlSize(json_files=2, seg_images=2, analyses=2, hot_marks=20, cold_marks=10)


@dataclass
class Tile:
    image: str
    x0: int
    y0: int
    cls: str | None  # dominant registry class; None = no qualifying class

    @property
    def box(self):
        return (self.x0, self.y0, self.x0 + TILE, self.y0 + TILE)


@dataclass
class EtlInputs:
    root: str
    json_dir: str
    seg_dir: str
    mongo_dir: str
    hashes_path: str
    tiles: list[Tile] = field(default_factory=list)
    nuclei: list[tuple] = field(default_factory=list)  # (x0, y0, x1, y1)
    json_docs: dict = field(default_factory=dict)  # ttl name -> expected triples
    seg_docs: dict = field(default_factory=dict)  # ttl.gz name -> expected triples
    mongo_docs: dict = field(default_factory=dict)  # batch name -> expected triples
    mongo_slides: dict = field(default_factory=dict)  # batch name -> slide
    slide_hashes: dict = field(default_factory=dict)  # slide -> hash (present only)
    records: int = 0  # input records over all five operations


def sha256_hex(s: str) -> str:
    return hashlib.sha256(s.encode()).hexdigest()


def _write_text(path: str, text: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(text)


def _probs(rng: random.Random, dominant: str | None) -> tuple[dict, int]:
    """measurements map for one tile: the dominant class clearly on top,
    two runners-up, and one non-prob noise key. Without a dominant
    registry class the top entry is a class json_etl does not know."""
    names = list(TISSUE_CLASSES)
    others = rng.sample([n for n in names if n != dominant], 2)
    top = round(rng.uniform(0.55, 0.9), 4)
    rest = round((1 - top) / 2 - 0.01, 4)
    m = {f"prob_{others[0]}": rest, f"prob_{others[1]}": round(rest / 2, 4)}
    if dominant is None:
        m["prob_400p-Unknown"] = top
        k = 2
    else:
        m[f"prob_{dominant}"] = top
        k = 3
    m["nr_of_cells"] = float(rng.randint(1, 40))
    return m, k


def _gen_geojson(rng: random.Random, size: EtlSize, inp: EtlInputs) -> None:
    names = list(TISSUE_CLASSES)
    per_class, rest = divmod(GRID_X * GRID_Y - UNQUALIFIED_TILES, len(names))
    assert rest == 0, "tiles must split evenly over the classes"
    for i in range(size.json_files):
        image = f"TCGA-{rng.randint(10, 99)}-{rng.randint(1000, 9999)}-01Z-00-DX{i}"
        fname = f"{image}.{rng.getrandbits(64):016x}.geojson"
        feats, n_members, member_triples = [], 0, 0
        classes = [None] * UNQUALIFIED_TILES + names * per_class
        rng.shuffle(classes)
        for gx in range(GRID_X):
            for gy in range(GRID_Y):
                x0, y0 = gx * TILE, gy * TILE
                dominant = classes[gx * GRID_Y + gy]
                meas, k = _probs(rng, dominant)
                ring = [[x0, y0], [x0 + TILE, y0], [x0 + TILE, y0 + TILE],
                        [x0, y0 + TILE], [x0, y0]]
                feats.append({
                    "type": "Feature",
                    "geometry": {"type": "Polygon",
                                 "coordinates": [[[float(a), float(b)] for a, b in ring]]},
                    "properties": {"measurements": meas},
                })
                inp.tiles.append(Tile(image, x0, y0, dominant))
                if dominant is not None:
                    n_members += 1
                    member_triples += 5 + 3 * k
        _write_text(
            os.path.join(inp.json_dir, fname),
            json.dumps({"type": "FeatureCollection", "features": feats}),
        )
        # 4 image-object + 8 collection-header triples per document
        inp.json_docs[fname[: -len(".geojson")] + ".ttl"] = 12 + member_triples
        inp.records += len(feats)


def _nucleus(rng: random.Random) -> tuple[int, int, int, int]:
    """A small rectangle with no edge on a tile grid line, so within /
    intersects against tiles never hinge on boundary contact."""
    while True:
        w, h = rng.randint(6, 24), rng.randint(6, 24)
        x0 = rng.randint(1, GRID_X * TILE - w - 1)
        y0 = rng.randint(1, GRID_Y * TILE - h - 1)
        if all(v % TILE for v in (x0, x0 + w, y0, y0 + h)):
            return x0, y0, x0 + w, y0 + h


def _gen_segmentation(rng: random.Random, size: EtlSize, inp: EtlInputs) -> None:
    for i in range(size.seg_images):
        cancer = ("blca", "brca")[i % 2]
        slide = f"TCGA-{rng.randint(10, 99)}-{rng.randint(1000, 9999)}-01Z-00-DX{i}"
        leaf = os.path.join(
            inp.seg_dir, f"{cancer}_polygon", f"{slide}.svs.tar.gz",
            f"{cancer}_polygon", f"{slide}.svs",
        )
        for p in range(size.seg_patches):
            px, py = (p % 4) * 4000 + 1, (p // 4) * 4000 + 1
            csv_name = f"{px}_{py}_4000_4000_0.2325_{p}-features.csv"
            lines = ["AreaInPixels,PhysicalSize,Polygon"]
            member_triples = 0
            for _ in range(size.seg_rows):
                x0, y0, x1, y1 = _nucleus(rng)
                area = "" if rng.random() < 0.1 else str((x1 - x0) * (y1 - y0))
                phys = "" if rng.random() < 0.1 else f"{rng.uniform(1, 50):.4f}"
                poly = f"[{x0}:{y0}:{x1}:{y0}:{x1}:{y1}:{x0}:{y1}]"
                lines.append(f"{area},{phys},{poly}")
                inp.nuclei.append((x0, y0, x1, y1))
                member_triples += 7 + (area != "") + (phys != "")
            _write_text(os.path.join(leaf, csv_name), "\n".join(lines) + "\n")
            # 2 image-object + 16 collection-header triples per document
            stem = csv_name[: -len(".csv")]
            inp.seg_docs[f"{slide}.svs/{cancer}_{stem}.ttl.gz"] = 18 + member_triples
            inp.records += size.seg_rows


_ANALYSIS_SCHEMA = pa.schema([
    ("_id", pa.string()),
    ("analysis", pa.struct([
        ("execution_id", pa.string()),
        ("algorithm_params", pa.struct([
            ("image_width", pa.string()),
            ("image_height", pa.string()),
            ("case_id", pa.string()),
        ])),
    ])),
    ("image", pa.struct([
        ("imageid", pa.string()),
        ("subject", pa.string()),
        ("study", pa.string()),
        ("slide", pa.string()),
    ])),
])

_GEOMETRY = pa.struct([
    ("type", pa.string()),
    ("coordinates", pa.list_(pa.list_(pa.list_(pa.float64())))),
])
_MARK_SCHEMA = pa.schema([
    ("_id", pa.string()),
    ("provenance", pa.struct([
        ("analysis", pa.struct([("execution_id", pa.string())])),
        ("image", pa.struct([("imageid", pa.string()), ("slide", pa.string())])),
    ])),
    ("geometries", pa.struct([
        ("features", pa.list_(pa.struct([
            ("geometry", _GEOMETRY),
            ("properties", pa.struct([
                ("footprint", pa.float64()),
                ("nucleustype", pa.string()),
            ])),
        ]))),
    ])),
    ("userUpdate", pa.struct([
        ("mark", pa.struct([
            ("annotation", pa.list_(pa.struct([("annotationID", pa.string())]))),
        ])),
    ])),
])


def _gen_mongo(rng: random.Random, size: EtlSize, inp: EtlInputs) -> None:
    """One hot analysis spanning several 1000-mark batches, the rest
    one batch each; every analysis has a numeric slide."""
    analyses, marks = [], []
    for a in range(size.analyses):
        exec_id = f"exec-{a % 3}"
        image = f"IMG-{a:03d}"
        slide = str(100000 + a)
        w, h = rng.choice([(40000, 40000), (60000, 50000), (2000, 1000)])
        analyses.append({
            "_id": f"{rng.getrandbits(96):024x}",
            "analysis": {"execution_id": exec_id, "algorithm_params": {
                "image_width": str(w), "image_height": str(h),
                "case_id": f"CASE-{a}"}},
            "image": {"imageid": image, "subject": f"SUBJ-{a}",
                      "study": "STUDY-1", "slide": slide},
        })
        n = size.hot_marks if a == 0 else size.cold_marks
        mark_triples = []
        for m in range(n):
            x, y = rng.uniform(0.05, 0.9), rng.uniform(0.05, 0.9)
            d = rng.uniform(0.001, 0.05)
            ann = None
            if rng.random() < 0.1:
                ann = {"mark": {"annotation": [
                    {"annotationID": f"http://snomed.info/id/{rng.randint(1000, 9999)}"}]}}
            ntype = rng.choice(["tumor.ep.1", "lymph.2", "", "stroma.fib.3"])
            # member link, a, markId, executionId, footprint, geometry,
            # WKT; nucleusType / material type / annotation when present
            mark_triples.append(7 + (ntype != "") + (ntype.count(".") >= 2)
                                + (ann is not None))
            marks.append({
                # zero-padded so the engine's _id order is generation order
                "_id": f"{a:04d}{m:08d}{rng.getrandbits(48):012x}",
                "provenance": {"analysis": {"execution_id": exec_id},
                               "image": {"imageid": image, "slide": slide}},
                "geometries": {"features": [{
                    "geometry": {"type": "Polygon", "coordinates": [[
                        [x, y], [x + d, y], [x + d, y + d], [x, y + d]]]},
                    "properties": {"footprint": float(rng.randint(10, 900)),
                                   "nucleustype": ntype},
                }]},
                "userUpdate": ann,
            })
        for b in range((n + 999) // 1000):
            name = f"{exec_id}/{image}/batch_{b + 1:06d}.ttl.gz"
            # 13 image-object + collection-opener triples per batch
            inp.mongo_docs[name] = 13 + sum(mark_triples[b * 1000:(b + 1) * 1000])
            inp.mongo_slides[name] = slide
        inp.records += 1 + n
    os.makedirs(inp.mongo_dir, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(analyses, _ANALYSIS_SCHEMA),
                   os.path.join(inp.mongo_dir, "analysis.parquet"))
    pq.write_table(pa.Table.from_pylist(marks, _MARK_SCHEMA),
                   os.path.join(inp.mongo_dir, "mark.parquet"))
    slides = [a["image"]["slide"] for a in analyses]
    missing = set(rng.sample(slides, size.missing_hashes))
    inp.slide_hashes = {s: sha256_hex("slide-file:" + s) for s in slides if s not in missing}
    _write_text(inp.hashes_path, json.dumps(
        [{"slide": s, "hash": h} for s, h in sorted(inp.slide_hashes.items())]))
    # hash rewrite reads every mongo document once
    inp.records += len(inp.mongo_docs)


def generate_etl(root: str, seed: int, size: EtlSize = EtlSize()) -> EtlInputs:
    """Write every etl_ingest / geosparql_query input under ``root``."""
    rng = random.Random(seed)
    inp = EtlInputs(
        root=root,
        json_dir=os.path.join(root, "geojson"),
        seg_dir=os.path.join(root, "segmentation"),
        mongo_dir=os.path.join(root, "mongo"),
        hashes_path=os.path.join(root, "slide_hashes.json"),
    )
    _gen_geojson(rng, size, inp)
    _gen_segmentation(rng, size, inp)
    _gen_mongo(rng, size, inp)
    # ttl_load parses every json_etl triple once
    inp.records += sum(inp.json_docs.values())
    return inp
