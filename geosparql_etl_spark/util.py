"""Shared cross-operator helpers."""

from __future__ import annotations

import atexit
import os
import re
import shutil
import tempfile

from pyspark.sql import DataFrame

# Scratch locations this process created (persisted lakes, indexes,
# archives, bucketed tables), removed when it exits.
_GSEL_PATHS: set[str] = set()


def _remove_gsel_paths() -> None:
    for path in _GSEL_PATHS:
        shutil.rmtree(path, ignore_errors=True)


def remove_at_exit(path: str) -> str:
    """Register ``path`` for removal when this process exits; returns
    it."""
    if not _GSEL_PATHS:
        atexit.register(_remove_gsel_paths)
    _GSEL_PATHS.add(path)
    return path


def gsel_name(kind: str, scope: str) -> str:
    """``gsel_<kind>_<scope>_<pid>``: the name of this process's scratch
    artifact of one kind, where ``scope`` is a scale's data directory
    (its last component is used) or any other label. The process id
    keeps two processes running the same query at the same scale (an
    oracle check beside a test run) from building into, and deleting,
    each other's files."""
    tag = re.sub(r"[^0-9A-Za-z]", "_", os.path.basename(os.path.normpath(scope)))
    return f"gsel_{kind}_{tag}_{os.getpid()}"


def gsel_path(kind: str, scope: str) -> str:
    """The temp-dir path named by ``gsel_name``, removed at exit."""
    return remove_at_exit(
        os.path.join(tempfile.gettempdir(), gsel_name(kind, scope))
    )

# One local-frame slice per this many rows (a single Python-runner
# task deserializes 20k small rows in tens of ms).
_LOCAL_FRAME_ROWS_PER_SLICE = 20_000


def local_frame(spark, rows, schema) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` with a sane slice count.

    The stock list path parallelizes ANY local collection into
    ``defaultParallelism`` slices, so a 4-row merge table or VALUES
    clause becomes 32 Python-runner tasks, each blocking ~half a
    second on worker handoff to deserialize at most one row — a fixed
    tax on EVERY action of every query whose plan embeds a small
    local frame (measured: collect of a 4-row frame 644 ms -> 259 ms).
    Same row conversion, but not the same verification timing: the
    stock list path checks every row against ``schema`` on the driver
    while the DataFrame is built, whereas this RDD path converts and
    verifies rows in the tasks, so a malformed row fails the first
    action (as a task failure), not the build. The slice count is 1
    per 20k rows, capped at defaultParallelism.
    """
    rows = rows if isinstance(rows, list) else list(rows)
    sc = spark.sparkContext
    n = max(
        1,
        min(
            sc.defaultParallelism,
            -(-len(rows) // _LOCAL_FRAME_ROWS_PER_SLICE),
        ),
    )
    return spark.createDataFrame(sc.parallelize(rows, n), schema)


def cut_lineage(df: DataFrame) -> DataFrame:
    """Materialize + truncate lineage for iterative loops.

    Reliable ``checkpoint`` when a checkpoint dir is configured
    (HDFS/S3 on a cluster — survives executor loss, which
    ``localCheckpoint`` blocks do not); ``localCheckpoint`` otherwise
    (executor storage, fine for local mode). One definition for every
    iterative operator (connected components, pagerank, triangles,
    BPE, the streaming IVM) so the recovery semantics cannot drift.
    """
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint()


def atomic_parquet_append(dir_path: str, table) -> None:
    """Append ONE parquet file with a unique name to ``dir_path`` via
    write-to-hidden-tmp-then-rename — safe under CONCURRENT writers.

    A Spark ``mode("append")`` job stages into a shared
    ``_temporary/`` dir inside the target, so two simultaneous
    appends (e.g. two CDC streams tombstoning into one index) can
    delete each other's staging at job commit. This helper is a
    driver-side pyarrow write: no job, no shared staging, one atomic
    rename per file; the half-written tmp is dot-prefixed, which
    Spark's file index ignores. By design callers append BOUNDED
    metadata only (tombstone sets — bounded by
    deletes-since-compaction, already collected/broadcast at serving
    time), never corpus-sized data.

    Rename-atomicity caveat: os.replace is atomic on POSIX
    filesystems and HDFS, NOT on raw object stores (S3 has no atomic
    rename) — an S3 deployment needs a manifest-based commit in front
    of this path and the lakes' ledger sidecars; see SCALE.md
    'Deploying at cluster scale' and lakes/commit.py's module
    docstring."""
    import os
    import uuid

    import pyarrow.parquet as pq

    os.makedirs(dir_path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(dir_path, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(dir_path, name))
