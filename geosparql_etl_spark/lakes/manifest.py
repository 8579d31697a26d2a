"""Object-store-safe MANIFEST commit protocol for the index lakes.

The rename-based substrate (``lakes/commit.py``) assumes atomic
``os.replace`` — true on POSIX filesystems and HDFS, absent on raw
object stores (S3 has no rename at all; "rename" is copy+delete and a
directory listing can observe the torn middle). This module is the
documented S3 deployment path turned into code (round 14): a
file-granular manifest protocol in the Iceberg/Delta family, needing
only two primitives every object store provides:

- PUT of a NEW key is atomic (readers see the whole object or nothing);
- LIST of a prefix is consistent (S3 is strongly consistent since 2020).

Protocol:

- Data files land under attempt-unique prefixes
  (``epoch=<tag>/attempt=<uuid>/ivf_cell=<k>/part-*.parquet``) — an
  attempt that dies mid-write leaves garbage that NO manifest
  references, so it is invisible by construction and reclaimed by
  ``manifest_vacuum``. A replayed epoch writes a fresh attempt prefix;
  readers keep only each epoch's LATEST manifest, so a torn first
  attempt can never mix rows into its replacement (the failure mode
  that makes epoch-granularity commit markers unsound on object
  stores: Spark part-file names are attempt-scoped uuids, so a retry
  into the same prefix doubles rows).
- The COMMIT POINT is one manifest object
  (``_manifests/m-<seq>-<epoch>-<n>.json``) listing the attempt's
  files with their partition metadata (ivf_cell), written AFTER every
  data file is durable. Locally the write is a plain create — readers
  skip unparsable manifests, which models a (never-observed-torn)
  object-store PUT conservatively.
- Readers never LIST data prefixes: the visible file set, per-file
  cell metadata, epoch→seq map and tombstone set all come from the
  manifests — one LIST of ``_manifests/`` serves metadata-level
  partition pruning (the probe's cell filter selects FILES before
  Spark ever opens one), which is exactly the Iceberg data-skipping
  shape and the read path you want at 100 TB.
- Tombstones are parquet files under ``_tombstones/`` referenced by
  ``kind="tombstone"`` manifests (same issue-seq / epoch scoping as
  the rename lake: a delete kills ids in epochs committed at issue
  time; later epochs survive).
- Compaction publishes a ``kind="reset"`` manifest at generation+1:
  manifests of lower generations stop being visible atomically with
  that single PUT. ``as_of_seq`` time travel is served within the
  current generation; a pin below the generation floor raises (the
  rename lake keeps pre-compaction history via its seq ledger — the
  manifest lake trades that for bounded metadata, documented).
- Two concurrent writers can race seq allocation and commit the same
  seq under different manifest keys: NEITHER commit is lost (distinct
  PUTs), both become visible, and ``manifest_fsck`` reports the
  duplicate seq as the same benign ``duplicate_seq`` finding the
  rename lake's fsck emits.

The ANN integration below reuses the exact probe machinery of
``operators/similarity.py`` (probe frame, top-k, tombstone
application), so a manifest-committed index answers probes
identically to a rename-committed one — pinned by the sim39 oracle.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from geosparql_etl_spark.util import local_frame

MANIFEST_DIR = "_manifests"
TOMBSTONE_DIR = "_tombstones"


# --- manifest read/write --------------------------------------------------


def _manifest_dir(path: str) -> str:
    return os.path.join(path, MANIFEST_DIR)


def read_manifests(path: str) -> list[dict]:
    """Every parseable manifest, sorted by file name (seq-ordered by
    construction). Unparsable files — a torn local write; an
    object-store PUT is never torn — are skipped: the commit they
    would have published simply has not happened."""
    d = _manifest_dir(path)
    if not os.path.isdir(d):
        return []
    out = []
    for f in sorted(os.listdir(d)):
        if not f.endswith(".json"):
            continue
        try:
            with open(os.path.join(d, f)) as fh:
                m = json.load(fh)
        except (OSError, json.JSONDecodeError):
            continue
        m["_name"] = f
        out.append(m)
    return out


def publish_manifest(path: str, entry: dict) -> str:
    """The commit point: PUT one NEW manifest object. The key embeds
    (seq, epoch, per-epoch attempt ordinal) so concurrent writers
    and replays always mint distinct keys and readers can order a
    replayed epoch's attempts."""
    d = _manifest_dir(path)
    os.makedirs(d, exist_ok=True)
    n = sum(
        1
        for m in read_manifests(path)
        if m.get("epoch") == entry.get("epoch")
        and m.get("kind") == entry.get("kind")
    )
    name = (
        f"m-{int(entry['seq']):08d}-{entry.get('epoch', 'none')}"
        f"-{n:04d}.json"
    )
    with open(os.path.join(d, name), "w") as fh:
        json.dump(entry, fh)
    return name


def current_generation(manifests: list[dict]) -> int:
    return max(
        (int(m["generation"]) for m in manifests if m.get("kind") == "reset"),
        default=0,
    )


def visible_manifests(path: str) -> list[dict]:
    """Manifests of the CURRENT generation, one per (kind, epoch) —
    a replayed epoch's latest attempt wins (file-name order: same
    seq, higher attempt ordinal)."""
    ms = read_manifests(path)
    gen = current_generation(ms)
    latest: dict[tuple, dict] = {}
    for m in ms:
        if int(m.get("generation", 0)) != gen:
            continue
        latest[(m.get("kind"), m.get("epoch"))] = m  # name-sorted: last wins
    return sorted(latest.values(), key=lambda m: m["_name"])


def next_seq(manifests: list[dict]) -> int:
    return max((int(m["seq"]) for m in manifests), default=-1) + 1


def epoch_seqs(path: str) -> dict[str, int]:
    """epoch -> seq for the current generation's data manifests (the
    tombstone-scoping / time-travel map the rename lake keeps in its
    ``_ledger`` sidecars)."""
    return {
        m["epoch"]: int(m["seq"])
        for m in visible_manifests(path)
        if m.get("kind") in ("append", "reset")
    }


def generation_floor(path: str) -> int:
    """The lowest seq still servable: the reset manifest's seq (0 when
    the lake has never compacted)."""
    ms = visible_manifests(path)
    return max(
        (int(m["seq"]) for m in ms if m.get("kind") == "reset"),
        default=0,
    )


def visible_files(
    path: str,
    cells: list[int] | None = None,
    as_of_seq: int | None = None,
) -> list[str]:
    """Absolute data-file paths visible at the pin, pruned to the
    probed cells from MANIFEST metadata alone — file-level data
    skipping without listing a single data prefix."""
    if as_of_seq is not None and as_of_seq < generation_floor(path):
        raise ValueError(
            f"as_of_seq={as_of_seq} predates the current generation "
            f"(floor {generation_floor(path)}): compaction collapsed "
            "that history in the manifest lake"
        )
    cs = set(cells) if cells is not None else None
    out = []
    for m in visible_manifests(path):
        if m.get("kind") not in ("append", "reset"):
            continue
        if as_of_seq is not None and int(m["seq"]) > as_of_seq:
            continue
        for f in m["files"]:
            if cs is not None and f.get("ivf_cell") is not None and (
                int(f["ivf_cell"]) not in cs
            ):
                continue
            out.append(os.path.join(path, f["path"]))
    return out


# --- ANN lake on the manifest substrate -----------------------------------


def _list_attempt_files(root: str, rel_prefix: str) -> list[dict]:
    """The attempt prefix's parquet files with ivf_cell parsed from
    the path — the ONE place the writer (who owns the prefix
    exclusively) lists a data directory."""
    out = []
    base = os.path.join(root, rel_prefix)
    for dirpath, _, files in os.walk(base):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            rel = os.path.relpath(os.path.join(dirpath, f), root)
            cell = None
            for part in rel.split(os.sep):
                if part.startswith("ivf_cell="):
                    cell = int(part.split("=", 1)[1])
            out.append(
                {
                    "path": rel,
                    "size": os.path.getsize(os.path.join(dirpath, f)),
                    "ivf_cell": cell,
                }
            )
    return sorted(out, key=lambda f: f["path"])


def manifest_write_ivf_index(
    corpus: DataFrame,
    path: str,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int | None = None,
    centroids: list[list[float]] | None = None,
    epoch: str = "base",
) -> None:
    """``write_ivf_index`` on the manifest substrate: cell-partitioned
    parquet into an attempt-unique prefix, then ONE manifest PUT as
    the commit. A replay (same epoch tag) keeps the epoch's existing
    seq, exactly like the rename lake's ledger replay rule."""
    from geosparql_etl_spark.operators.partitioning import spread
    from geosparql_etl_spark.operators.similarity import (
        _persist_quantizer,
        _quantizer_meta,
        auto_n_cells,
        l2_norm,
        with_ivf_cell,
    )

    if n_cells is None:
        n_cells = (
            len(centroids)
            if centroids is not None
            else auto_n_cells(corpus.count())
        )
    os.makedirs(path, exist_ok=True)
    _persist_quantizer(
        path, _quantizer_meta(dim, n_cells, centroids), replace=False
    )
    attempt = uuid.uuid4().hex[:8]
    rel = os.path.join(f"epoch={epoch}", f"attempt={attempt}")
    with_ivf_cell(
        spread(corpus), vec_col, dim, n_cells, centroids=centroids
    ).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        l2_norm(F.col(vec_col), dim).alias("__cn"),
        "ivf_cell",
    ).write.mode("overwrite").partitionBy("ivf_cell").parquet(
        os.path.join(path, rel)
    )
    ms = read_manifests(path)
    seqs = epoch_seqs(path)
    publish_manifest(
        path,
        {
            "kind": "append",
            "generation": current_generation(ms),
            "epoch": str(epoch),
            "seq": seqs.get(str(epoch), next_seq(ms)),
            "attempt": attempt,
            "files": _list_attempt_files(path, rel),
        },
    )


def manifest_delete_from_ivf_index(spark, path: str, ids) -> None:
    """Logical delete: ONE tombstone parquet PUT + ONE manifest PUT.
    Same scoping as the rename lake: the tombstone kills the ids in
    epochs committed at issue time (fanned per epoch), so an epoch
    that lands later re-introduces the id."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from geosparql_etl_spark.lakes.commit import collect_id_list

    id_list = sorted(collect_id_list(ids))
    ms = read_manifests(path)
    seqs = epoch_seqs(path)
    # unlike the rename lake (where deletes advance no ledger seq and
    # are stamped with the max COMMITTED seq), a manifest delete IS a
    # sequenced commit — stamping it with its own seq makes the pin
    # "as_of = last data seq" read the pre-delete state exactly
    issued = next_seq(ms)
    epochs = sorted(seqs)
    nid, ep = [], []
    for e in epochs:
        nid.extend(id_list)
        ep.extend([e] * len(id_list))
    table = pa.table(
        {
            "neighbor_id": pa.array(nid, pa.int64()),
            "epoch": pa.array(ep, pa.string()),
            "issued": pa.array([issued] * len(nid), pa.int32()),
        }
    )
    td = os.path.join(path, TOMBSTONE_DIR)
    os.makedirs(td, exist_ok=True)
    fname = f"t-{uuid.uuid4().hex[:12]}.parquet"
    pq.write_table(table, os.path.join(td, fname))
    publish_manifest(
        path,
        {
            "kind": "tombstone",
            "generation": current_generation(ms),
            "epoch": f"tomb-{uuid.uuid4().hex[:8]}",
            "seq": issued,
            "issued": issued,
            "files": [{"path": os.path.join(TOMBSTONE_DIR, fname)}],
        },
    )


def _manifest_tombstones(
    spark, path: str, as_of_seq: int | None
) -> DataFrame | None:
    """The visible tombstone frame (manifest-listed files only — a
    torn deleter's unreferenced parquet never serves), issue-scoped
    like ``read_index_tombstones``."""
    files = [
        os.path.join(path, f["path"])
        for m in visible_manifests(path)
        if m.get("kind") == "tombstone"
        and (as_of_seq is None or int(m.get("issued", 0)) <= as_of_seq)
        for f in m["files"]
    ]
    if not files:
        return None
    t = spark.read.parquet(*files)
    if as_of_seq is not None:
        t = t.where(F.coalesce(F.col("issued"), F.lit(0)) <= as_of_seq)
    return t.select(
        "neighbor_id", F.col("epoch").cast("string").alias("epoch")
    ).dropDuplicates()


def manifest_ivf_topk(
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
    """``ivf_index_topk`` against a manifest-committed index: the
    probed cell set selects FILES from manifest metadata (no data
    LIST, no directory-marker reads), the scan gets exactly those
    files with ``basePath`` so partition columns still materialize,
    and the shared probe machinery does the rest — identical answers
    to the rename lake by construction (sim39 oracle)."""
    from geosparql_etl_spark.operators.similarity import (
        _apply_ann_tombstones,
        _index_centroids,
        _probe_cells,
        _probe_topk,
        _probed_cells,
        _query_rows,
    )

    dim, cents = _index_centroids(path, centroids, dim, n_cells)
    rows = _query_rows(
        queries, id_col, vec_col, _probe_cells(vec_col, cents, n_probe)
    )
    files = visible_files(path, cells=_probed_cells(rows), as_of_seq=as_of_seq)
    if not files:
        schema = (
            "query_id long, neighbor_id long, cosine_sim double, rank int"
        )
        return local_frame(spark, [], schema)
    cb = (
        spark.read.option("basePath", path)
        .parquet(*files)
        .select(
            "neighbor_id",
            "__cv",
            "__cn",
            F.col("epoch").cast("string").alias("epoch"),
            F.col("ivf_cell").alias("__cell"),
        )
    )
    tomb = _manifest_tombstones(spark, path, as_of_seq)
    if tomb is not None:
        cb = _apply_ann_tombstones(cb, tomb)
    qtype = dict(queries.dtypes)[id_col]
    return _probe_topk(cb.drop("epoch"), rows, qtype, k, dim)


def manifest_compact_ivf_index(spark, path: str) -> None:
    """Compaction: rewrite the visible rows (tombstones applied) as a
    fresh ``base`` epoch, then publish ONE ``reset`` manifest at
    generation+1 — the single PUT that atomically retires every older
    manifest. Old data files stay on disk (still described by the old
    generation's manifests) until ``manifest_vacuum``."""
    files = visible_files(path)
    attempt = uuid.uuid4().hex[:8]
    rel = os.path.join("epoch=base", f"attempt={attempt}")
    if files:
        cb = (
            spark.read.option("basePath", path)
            .parquet(*files)
            .select(
                "neighbor_id",
                "__cv",
                "__cn",
                F.col("epoch").cast("string").alias("epoch"),
                "ivf_cell",
            )
        )
        tomb = _manifest_tombstones(spark, path, None)
        if tomb is not None:
            from geosparql_etl_spark.operators.similarity import (
                _apply_ann_tombstones,
            )

            cb = _apply_ann_tombstones(cb, tomb)
        cb.drop("epoch").write.mode("overwrite").partitionBy(
            "ivf_cell"
        ).parquet(os.path.join(path, rel))
    ms = read_manifests(path)
    publish_manifest(
        path,
        {
            "kind": "reset",
            "generation": current_generation(ms) + 1,
            "epoch": "base",
            "seq": next_seq(ms),
            "attempt": attempt,
            "files": _list_attempt_files(path, rel) if files else [],
        },
    )


def manifest_vacuum(path: str) -> list[str]:
    """Garbage collection: delete data/tombstone files referenced by
    NO current-generation manifest (torn attempts, replaced replays,
    compacted-away epochs) and retire older-generation manifests.
    Run it only when no reader can hold a pre-reset snapshot —
    the object-store grace-period discipline, left to the operator
    (no wall clock in here). Returns the deleted paths."""
    ms = read_manifests(path)
    gen = current_generation(ms)
    live = {
        f["path"]
        for m in visible_manifests(path)
        for f in m.get("files", [])
    }
    removed = []
    for dirpath, _, files in os.walk(path):
        rel_dir = os.path.relpath(dirpath, path)
        if rel_dir == MANIFEST_DIR or rel_dir.startswith(
            MANIFEST_DIR + os.sep
        ):
            continue
        for f in files:
            rel = os.path.join(rel_dir, f) if rel_dir != "." else f
            if f.endswith(".parquet") and rel not in live:
                os.remove(os.path.join(dirpath, f))
                removed.append(rel)
    for m in ms:
        if int(m.get("generation", 0)) < gen:
            os.remove(os.path.join(_manifest_dir(path), m["_name"]))
            removed.append(os.path.join(MANIFEST_DIR, m["_name"]))
    # sweep now-empty attempt/epoch dirs (cosmetic on a real object
    # store — prefixes have no existence apart from their keys)
    for dirpath, dirs, files in sorted(
        os.walk(path), key=lambda w: -len(w[0])
    ):
        if not dirs and not files and dirpath != path:
            os.rmdir(dirpath)
    return removed


def manifest_fsck(path: str) -> list[dict]:
    """Read-only invariant checks, in the lakes' finding shape:
    manifests referencing missing files (error — data loss or a
    mis-run vacuum), orphan data files (info — torn attempts awaiting
    vacuum), duplicate seqs (info — concurrent writers, both commits
    visible, order undefined)."""
    from geosparql_etl_spark.lakes.commit import duplicate_seq_findings

    out = []
    vis = visible_manifests(path)
    live = set()
    for m in vis:
        for f in m.get("files", []):
            live.add(f["path"])
            if not os.path.exists(os.path.join(path, f["path"])):
                out.append(
                    {
                        "check": "missing_file",
                        "severity": "error",
                        "detail": (
                            f"manifest {m['_name']} references "
                            f"{f['path']} which does not exist"
                        ),
                    }
                )
    on_disk = set()
    for dirpath, _, files in os.walk(path):
        rel_dir = os.path.relpath(dirpath, path)
        if rel_dir.startswith(MANIFEST_DIR):
            continue
        for f in files:
            if f.endswith(".parquet"):
                on_disk.add(os.path.join(rel_dir, f))
    for rel in sorted(on_disk - live):
        out.append(
            {
                "check": "orphan_file",
                "severity": "info",
                "detail": (
                    f"{rel} is referenced by no current-generation "
                    "manifest (torn attempt or pre-compaction file) — "
                    "invisible to readers, reclaimable by vacuum"
                ),
            }
        )
    out.extend(
        duplicate_seq_findings(
            {
                m["epoch"]: int(m["seq"])
                for m in vis
                if m.get("kind") in ("append", "reset")
            }
        )
    )
    return out


# --- BM25 text lake on the manifest substrate ------------------------------
#
# Same protocol, second lake (round 14 symmetry): the rename lake's
# THREE commit artifacts per epoch (_stats.json totals, _ledger/<epoch>
# sidecar, the epoch's parquet prefix) collapse into ONE manifest that
# carries the file list AND the epoch's stats contribution
# (n_docs, sum_dl, seq) — totals are the sum over visible manifests, so
# a replayed epoch can never double-count and there is no shared stats
# object to read-modify-write at all. Deletes store their corpus-stats
# adjustment IN the tombstone manifest (the deleter reads the doclens
# buckets once at delete time), so probes recover exact BM25 stats with
# zero extra jobs — the fingerprint-memoized state cache the rename
# lake needs becomes structural.


def manifest_write_text_index(
    docs,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int | None = None,
    epoch: str = "base",
) -> None:
    """``write_text_index``/``append_to_text_index`` on the manifest
    substrate: positional postings (term-bucketed) + doclens forward
    sidecar (doc-bucketed) into attempt-unique prefixes, ONE manifest
    PUT as the commit. Replays keep the epoch's seq."""
    from geosparql_etl_spark.operators.retrieval import (
        TEXT_INDEX_BUCKETS,
        _doc_bucket_col,
        _index_postings,
    )

    spark = docs.sparkSession
    nb = n_buckets or TEXT_INDEX_BUCKETS
    attempt = uuid.uuid4().hex[:8]
    rel_post = os.path.join(
        "postings", f"epoch={epoch}", f"attempt={attempt}"
    )
    rel_dl = os.path.join(
        "_doclens", f"epoch={epoch}", f"attempt={attempt}"
    )
    _index_postings(docs, id_col, text_col, nb).write.mode(
        "overwrite"
    ).partitionBy("bucket").parquet(os.path.join(path, rel_post))
    (
        spark.read.parquet(os.path.join(path, rel_post))
        .select("doc_id", "dl")
        .dropDuplicates(["doc_id"])
        .select("doc_id", "dl", _doc_bucket_col(F.col("doc_id"), nb))
        .write.mode("overwrite")
        .partitionBy("dbucket")
        .parquet(os.path.join(path, rel_dl))
    )
    agg = (
        spark.read.parquet(os.path.join(path, rel_dl))
        .agg(F.count("*").alias("n"), F.sum("dl").alias("s"))
        .collect()[0]
    )
    ms = read_manifests(path)
    seqs = epoch_seqs(path)
    publish_manifest(
        path,
        {
            "kind": "append",
            "generation": current_generation(ms),
            "epoch": str(epoch),
            "seq": seqs.get(str(epoch), next_seq(ms)),
            "attempt": attempt,
            "n_buckets": nb,
            "stats": {
                "n_docs": int(agg["n"] or 0),
                "sum_dl": int(agg["s"] or 0),
            },
            "files": _list_attempt_files(path, rel_post)
            + _list_attempt_files(path, rel_dl),
        },
    )


def _text_file_meta(rel: str) -> dict:
    out = {}
    for part in rel.split(os.sep):
        for key in ("bucket", "dbucket", "epoch"):
            if part.startswith(key + "="):
                out[key] = part.split("=", 1)[1]
    out["role"] = "doclens" if rel.startswith("_doclens") else "postings"
    return out


def manifest_delete_from_text_index(spark, path: str, doc_ids) -> None:
    """Logical delete with the stats adjustment computed AT DELETE
    TIME and stored in the tombstone manifest: the deleter reads only
    the tombstoned docs' doclens buckets (per-delete cost), records
    (n_del, dl_del) per killed (doc, epoch) version, and probes
    subtract the aggregate without ever scanning doclens again. Scope
    = epochs committed at issue; a later epoch re-introducing the doc
    survives."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from geosparql_etl_spark.lakes.commit import collect_id_list
    from geosparql_etl_spark.operators.retrieval import doc_bucket_py

    id_list = sorted(collect_id_list(doc_ids))
    ms = read_manifests(path)
    vis = visible_manifests(path)
    issued = next_seq(ms)
    nb = max(
        (int(m["n_buckets"]) for m in vis if "n_buckets" in m), default=64
    )
    dbuckets = sorted({doc_bucket_py(i, nb) for i in id_list})
    dl_files = [
        os.path.join(path, f["path"])
        for m in vis
        if m.get("kind") in ("append", "reset")
        for f in m["files"]
        if _text_file_meta(f["path"])["role"] == "doclens"
        and int(_text_file_meta(f["path"]).get("dbucket", -1)) in dbuckets
    ]
    killed = []
    if dl_files:
        rows = (
            spark.read.option("basePath", path)
            .parquet(*dl_files)
            .where(F.col("doc_id").isin(id_list))
            .select("doc_id", "dl", F.col("epoch").cast("string"))
            .collect()
        )
        killed = [(int(r["doc_id"]), int(r["dl"]), r["epoch"]) for r in rows]
    table = pa.table(
        {
            "doc_id": pa.array([k[0] for k in killed], pa.int64()),
            "epoch": pa.array([k[2] for k in killed], pa.string()),
            "issued": pa.array([issued] * len(killed), pa.int32()),
        }
    )
    td = os.path.join(path, TOMBSTONE_DIR)
    os.makedirs(td, exist_ok=True)
    fname = f"t-{uuid.uuid4().hex[:12]}.parquet"
    pq.write_table(table, os.path.join(td, fname))
    publish_manifest(
        path,
        {
            "kind": "tombstone",
            "generation": current_generation(ms),
            "epoch": f"tomb-{uuid.uuid4().hex[:8]}",
            "seq": issued,
            "issued": issued,
            "adjustment": {
                "n_del": len(killed),
                "dl_del": sum(k[1] for k in killed),
            },
            "files": [{"path": os.path.join(TOMBSTONE_DIR, fname)}],
        },
    )


def manifest_text_topk(
    spark,
    path: str,
    terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    as_of_seq: int | None = None,
) -> "DataFrame":
    """``text_index_topk`` on the manifest substrate: term buckets
    select postings FILES from manifest metadata, corpus stats are the
    sum of visible manifests' contributions minus visible tombstone
    adjustments (no stats object, no doclens scan), and the shared
    ``bm25_rank_postings`` tail makes scoring bit-identical to the
    rename lake."""
    from geosparql_etl_spark.operators.retrieval import (
        bm25_rank_postings,
        term_bucket_py,
    )

    vis = visible_manifests(path)
    if as_of_seq is not None and as_of_seq < generation_floor(path):
        raise ValueError(
            f"as_of_seq={as_of_seq} predates the current generation "
            f"(floor {generation_floor(path)})"
        )
    data = [
        m
        for m in vis
        if m.get("kind") in ("append", "reset")
        and (as_of_seq is None or int(m["seq"]) <= as_of_seq)
    ]
    tombs = [
        m
        for m in vis
        if m.get("kind") == "tombstone"
        and (as_of_seq is None or int(m.get("issued", 0)) <= as_of_seq)
    ]
    total_docs = sum(m["stats"]["n_docs"] for m in data)
    total_dl = sum(m["stats"]["sum_dl"] for m in data)
    nb = max((int(m["n_buckets"]) for m in data), default=64)
    terms = sorted({t.lower() for t in terms})
    buckets = {term_bucket_py(t, nb) for t in terms}
    files = [
        os.path.join(path, f["path"])
        for m in data
        for f in m["files"]
        if _text_file_meta(f["path"])["role"] == "postings"
        and int(_text_file_meta(f["path"]).get("bucket", -1)) in buckets
    ]
    if not files:
        return local_frame(
            spark, [], "doc_id long, rank int, score decimal(18,9)"
        )
    post = (
        spark.read.option("basePath", path)
        .parquet(*files)
        .where(F.col("tok").isin(terms))
        .select(
            "tok", "doc_id", "tf", "dl",
            F.col("epoch").cast("string").alias("epoch"),
        )
    )
    if tombs:
        tfiles = [
            os.path.join(path, f["path"]) for m in tombs for f in m["files"]
        ]
        # each tombstone file carries one delete batch at one issued
        # seq — the manifest-level pin filter above already decided
        # row visibility, so no row-level issued filter is needed
        tomb = (
            spark.read.parquet(*tfiles)
            .select("doc_id", F.col("epoch").cast("string").alias("epoch"))
            .dropDuplicates()
        )
        post = post.join(F.broadcast(tomb), ["doc_id", "epoch"], "left_anti")
        # the epoch scope recorded in the tombstone file is exact, so
        # the seq-pinned adjustment is the manifest field's sum only
        # when the pin admits the whole tombstone — which the `tombs`
        # filter already guarantees
        total_docs -= sum(m["adjustment"]["n_del"] for m in tombs)
        total_dl -= sum(m["adjustment"]["dl_del"] for m in tombs)
    return bm25_rank_postings(
        post.select("tok", "doc_id", "tf", "dl"),
        total_docs, total_dl, k, k1, b,
    )


def manifest_compact_text_index(spark, path: str) -> None:
    """Text-lake compaction on the manifest substrate: rewrite the
    visible postings (tombstones applied) and doclens as a fresh
    ``base`` epoch, recompute the stats contribution from the
    surviving doclens, and publish ONE ``reset`` manifest at
    generation+1. The ANN twin is ``manifest_compact_ivf_index``."""
    vis = visible_manifests(path)
    data = [m for m in vis if m.get("kind") in ("append", "reset")]
    tombs = [m for m in vis if m.get("kind") == "tombstone"]
    attempt = uuid.uuid4().hex[:8]
    rel_post = os.path.join("postings", "epoch=base", f"attempt={attempt}")
    rel_dl = os.path.join("_doclens", "epoch=base", f"attempt={attempt}")
    files = []
    stats = {"n_docs": 0, "sum_dl": 0}
    nb = max((int(m["n_buckets"]) for m in data), default=64)
    if data:
        def role_files(role):
            return [
                os.path.join(path, f["path"])
                for m in data
                for f in m["files"]
                if _text_file_meta(f["path"])["role"] == role
            ]

        tomb = None
        if tombs:
            tfiles = [
                os.path.join(path, f["path"])
                for m in tombs
                for f in m["files"]
            ]
            tomb = (
                spark.read.parquet(*tfiles)
                .select(
                    "doc_id",
                    F.col("epoch").cast("string").alias("epoch"),
                )
                .dropDuplicates()
            )
        post = (
            spark.read.option("basePath", path)
            .parquet(*role_files("postings"))
            .select(
                "tok", "doc_id", "tf", "dl", "pos", "bucket",
                F.col("epoch").cast("string").alias("epoch"),
            )
        )
        dls = (
            spark.read.option("basePath", path)
            .parquet(*role_files("doclens"))
            .select(
                "doc_id", "dl", "dbucket",
                F.col("epoch").cast("string").alias("epoch"),
            )
        )
        if tomb is not None:
            post = post.join(
                F.broadcast(tomb), ["doc_id", "epoch"], "left_anti"
            )
            dls = dls.join(
                F.broadcast(tomb), ["doc_id", "epoch"], "left_anti"
            )
        post.drop("epoch").write.mode("overwrite").partitionBy(
            "bucket"
        ).parquet(os.path.join(path, rel_post))
        dls.drop("epoch").write.mode("overwrite").partitionBy(
            "dbucket"
        ).parquet(os.path.join(path, rel_dl))
        agg = (
            spark.read.parquet(os.path.join(path, rel_dl))
            .agg(F.count("*").alias("n"), F.sum("dl").alias("s"))
            .collect()[0]
        )
        stats = {"n_docs": int(agg["n"] or 0), "sum_dl": int(agg["s"] or 0)}
        files = _list_attempt_files(path, rel_post) + _list_attempt_files(
            path, rel_dl
        )
    ms = read_manifests(path)
    publish_manifest(
        path,
        {
            "kind": "reset",
            "generation": current_generation(ms) + 1,
            "epoch": "base",
            "seq": next_seq(ms),
            "attempt": attempt,
            "n_buckets": nb,
            "stats": stats,
            "files": files,
        },
    )


# --- streaming maintenance on the manifest substrate -----------------------


def run_manifest_text_maintenance(
    spark,
    landing_dir: str,
    index_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Streaming maintenance of the manifest-committed text index:
    each micro-batch lands as its own epoch (tagged stream-id +
    batch-id, exactly like the rename lake's
    ``run_text_index_maintenance``) whose commit is one manifest PUT.
    An at-least-once batch replay publishes a fresh attempt under the
    SAME epoch/seq — readers take the latest attempt, so replays can
    neither double rows nor double stats. availableNow trigger;
    returns the started StreamingQuery."""
    from geosparql_etl_spark.lakes.commit import (
        run_availablenow_file_stream,
        stream_id,
    )

    sid = stream_id(checkpoint_dir)

    def write_batch(batch_df, epoch_id: int) -> None:
        manifest_write_text_index(
            batch_df, index_path, epoch=f"{sid}-{epoch_id}",
            id_col=id_col, text_col=text_col,
        )

    return run_availablenow_file_stream(
        spark, landing_dir, checkpoint_dir, write_batch,
        f"{id_col} long, {text_col} string",
    )


def run_manifest_ann_maintenance(
    spark,
    landing_dir: str,
    index_path: str,
    checkpoint_dir: str,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    n_cells: int | None = None,
):
    """Streaming maintenance of the manifest-committed ANN index —
    the vector twin of ``run_manifest_text_maintenance`` (same epoch
    tagging, same replay-idempotence argument)."""
    from geosparql_etl_spark.lakes.commit import (
        run_availablenow_file_stream,
        stream_id,
    )

    sid = stream_id(checkpoint_dir)

    def write_batch(batch_df, epoch_id: int) -> None:
        manifest_write_ivf_index(
            batch_df, index_path, dim=dim, id_col=id_col,
            vec_col=vec_col, centroids=centroids, n_cells=n_cells,
            epoch=f"{sid}-{epoch_id}",
        )

    return run_availablenow_file_stream(
        spark, landing_dir, checkpoint_dir, write_batch,
        f"{id_col} long, {vec_col} array<double>",
    )
